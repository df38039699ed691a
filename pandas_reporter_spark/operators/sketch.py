"""Mergeable-sketch operators (Apache DataSketches HLL via Spark SQL).

The 100 TB cardinality story: exact COUNT(DISTINCT) over a high-card
column shuffles every distinct value; an HLL sketch is a fixed ~KB
state that partial-aggregates map-side and MERGES associatively, so
re-aggregation (per-type → global, daily → monthly) never rescans the
data. Spark 3.5+ exposes the DataSketches HLL family as built-ins
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate) — JVM-side,
codegen-compatible, no UDF.

Estimates are algorithm-defined (DataSketches HLL_8), so no DuckDB
oracle can value-match: registered rows-only, with the estimate-vs-
exact tolerance pinned in tests/test_sketch.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure
from pandas_reporter_spark.tables import load


def hll_estimates(spark, sf):
    """The raw sketch output: approx distinct users per event_type + a
    merged grand total. ONE scan builds the per-type sketches (groupBy
    with map-side partial agg — the shuffle carries n_types fixed-size
    sketch states, not user ids); the '__all__' row then re-aggregates
    the per-type sketches with hll_union_agg WITHOUT touching the
    events table again — the mergeability that makes sketches the
    100 TB answer to rollup hierarchies. Exact distinct on the same
    scan would shuffle every (event_type, user_id) pair."""
    configure(spark)
    ev = load(spark, sf, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("__all__").alias("event_type"), "approx_users")
    return per_type.unionAll(merged)


@query(
    "q_sketch_hll",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           CAST(1 AS BIGINT) AS est_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', COUNT(DISTINCT user_id), CAST(1 AS BIGINT)
    FROM events
    """,
)
def q_sketch_hll(spark, sf):
    """DataSketches HLL with its accuracy contract VERIFIED IN-PLAN:
    per event_type (and for the sketch-merged '__all__' rollup) the
    estimate must sit within max(2, 2%) of the exact distinct count
    (HLL_8 lgK=12 standard error ≈ 1.04/√2¹² ≈ 1.6%). Sketch VALUES
    are algorithm-defined, so no SQL oracle can match them; the
    deterministic objects are the exact counts and the error
    GUARANTEE, so the query emits (exact_users, verdict) and the
    DuckDB oracle computes the same exact counts with the verdict
    pinned to 1 — an estimator drifting out of tolerance (or a merge
    bug in the '__all__' union) hash-fails the row. The exact
    recount is the correctness harness; the production artifact is
    the sketch pass alone (see hll_estimates above)."""
    configure(spark)
    ev = load(spark, sf, "events")
    est = hll_estimates(spark, sf)
    # both exact recounts derive from ONE distinct-pair reduction of
    # the raw stream (r6: one fewer full scan; the global distinct
    # re-aggregates the pair dictionary, not the corpus). NULL user
    # ids are dropped first: counting rows of the pair reduction would
    # otherwise count a NULL user once per event_type, where both
    # countDistinct and the oracle's COUNT(DISTINCT) ignore NULLs.
    pairs = (
        ev.filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    exact_t = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    exact_all = (
        pairs.select("user_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_users"))
        .select(F.lit("__all__").alias("event_type"), "exact_users")
    )
    exact = exact_t.unionAll(exact_all)
    ok = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.greatest(F.lit(2.0), F.lit(0.02) * F.col("exact_users"))
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "exact_users", ok.cast("long").alias("est_ok"))
    )


def approx_quantiles(spark, sf):
    """The raw sketch output: approximate p50/p90/p99 of
    l_extendedprice per l_returnflag via Spark's one-pass mergeable
    quantile summary (approx_percentile, Greenwald-Khanna-style),
    accuracy dialed by the third argument (10000 -> max rank error
    1/10000). Exact percentiles (q_agg_percentile) sort within groups;
    at 100 TB this summary partial-aggregates map-side and merges
    associatively — one scan, bounded state, no within-group sort."""
    configure(spark)
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            F.lit(10000),
        ).alias("approx_pcts")
    ).select(
        "l_returnflag",
        F.col("approx_pcts")[0].alias("p50"),
        F.col("approx_pcts")[1].alias("p90"),
        F.col("approx_pcts")[2].alias("p99"),
    )


@query(
    "q_sketch_quantile",
    oracle="""
    SELECT l_returnflag, q_label, CAST(1 AS BIGINT) AS within_bound
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    CROSS JOIN (VALUES ('p50'), ('p90'), ('p99')) t(q_label)
    ORDER BY l_returnflag, q_label
    """,
)
def q_sketch_quantile(spark, sf):
    """Greenwald-Khanna quantile sketch with its accuracy contract
    VERIFIED IN-PLAN: for each (l_returnflag, quantile) the approx
    value's exact rank window [#(x<v)+1, #(x<=v)] must intersect
    [q·n − εn − 1, q·n + εn + 1] (ε = 1/accuracy = 1e-4; ±1 row covers
    the summary's rank-rounding convention). Sketch estimates are
    algorithm-and-merge-order defined, so their VALUES cannot be
    value-matched by any SQL oracle; the deterministic object is the
    GUARANTEE, so the query emits the per-cell verdict and the DuckDB
    oracle pins the full verdict grid to 1 — any accuracy violation
    hash-fails the row.

    Plan shape: the sketch pass is one map-side-combined groupBy; the
    verification joins the (n_groups × 3)-row approx result back
    BROADCAST, so the recount is a second scan with no shuffle of
    lineitem. At 100 TB you'd ship only the sketch pass (see
    approx_quantiles above, the raw-output half of this operator);
    the recount is the correctness harness.
    """
    configure(spark)
    li = load(spark, sf, "lineitem").select("l_returnflag", "l_extendedprice")
    labels = F.array(F.lit("p50"), F.lit("p90"), F.lit("p99"))
    qfs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    apx = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile(
                "l_extendedprice",
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                F.lit(10000),
            ).alias("pcts")
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            F.posexplode("pcts").alias("i", "v"),
        )
        .select(
            "flag",
            F.element_at(labels, F.col("i") + 1).alias("q_label"),
            F.element_at(qfs, F.col("i") + 1).alias("qf"),
            "v",
        )
    )
    eps = 1.0 / 10000.0
    ranks = (
        li.join(F.broadcast(apx), F.col("l_returnflag") == F.col("flag"))
        .groupBy("l_returnflag", "q_label")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("l_extendedprice") < F.col("v")).alias("lo"),
            F.count_if(F.col("l_extendedprice") <= F.col("v")).alias("hi"),
            F.max("qf").alias("qf"),
        )
    )
    target = F.col("qf") * F.col("n")
    slack = F.lit(eps) * F.col("n") + F.lit(1.0)
    ok = (F.col("hi").cast("double") >= target - slack) & (
        (F.col("lo").cast("double") + 1.0) <= target + slack
    )
    return ranks.select(
        "l_returnflag", "q_label", ok.cast("long").alias("within_bound")
    ).orderBy("l_returnflag", "q_label")


@query(
    "q_sketch_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), t AS (
      SELECT token FROM tok WHERE token <> ''
    ), tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT token, COUNT(*) AS cnt
    FROM t GROUP BY token
    HAVING COUNT(*) > (SELECT n FROM tot) / 256.0
    """,
)
def q_sketch_heavy_hitters(spark, sf):
    """Exact heavy hitters (tokens with frequency > n/256) — the
    frequency member of the sketch family (HLL = cardinality, GK =
    quantiles, MG = frequency).

    Registered plan: ONE corpus scan. groupBy(token) with full
    map-side combine shuffles only the combined per-partition token
    DICTIONARIES (Heaps-sublinear in the corpus: fixed-width counts,
    skew crushed by the combine since heavy tokens are exactly the
    ones that collapse map-side); the grand total the threshold needs
    is an aggregate OVER the grouped result whose exchange Catalyst
    reuses (plan-pinned: one scan, ReusedExchange), broadcast back as
    a 1-row relation. This is the same plan shape every exact engine
    runs and it beats the DuckDB oracle warm at sf10 (0.06 s vs
    0.24 s); the r12-measured alternative — a Misra-Gries candidate
    pass in mapInPandas + exact recount — spent ~1 s/rep in the
    Python/Arrow channel alone at sf10, 16x this plan's whole
    runtime, so the sketch is the WRONG tool when the dictionary is
    shuffleable.

    When the dictionary itself is the problem (adversarial corpora
    where per-partition token dictionaries outgrow executor spill
    budgets, or single-pass streaming ingest), `heavy_hitters_mg`
    below keeps the bounded-state two-pass shape: capacity-1024
    Misra-Gries candidates (provable superset via pigeonhole) + one
    fused verify scan. Equality with this exact plan is pinned in
    tests at two SFs.

    Reference parity: none (driver-mandated sketch surface, SURVEY
    §2.3).
    """
    configure(spark)
    tok = _hh_token_stream(spark, sf)
    grouped = tok.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = grouped.agg(F.sum("cnt").alias("n_total"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("n_total") / 256.0)
        .select("token", "cnt")
    )


def _hh_token_stream(spark, sf):
    """(token, tf) weighted stream: the shared tokenize artifact when a
    session has materialized it, else the exploded corpus with tf=1 —
    identical downstream math either way."""
    art = artifacts.get(spark, sf, "doc_tokens")
    if art is not None:
        return art.filter(F.col("token") != "").select("token", "tf")
    d = load(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .withColumn("tf", F.lit(1).cast("long"))
    )


def heavy_hitters_mg(spark, sf, cap: int = 1024):
    """Bounded-state heavy hitters: Misra-Gries candidates + one fused
    exact-verify scan. Same output as q_sketch_heavy_hitters (pinned in
    tests); the variant for regimes where the exact plan's dictionary
    shuffle is the bottleneck — adversarial vocabularies whose
    PER-PARTITION dictionaries outgrow memory+spill, or one-pass
    streaming where the corpus cannot be rescanned (there the verify
    pass is dropped and the MG counts carry the documented <= W/cap
    underestimate).

    Pass 1 runs a mergeable Misra-Gries summary PER PARTITION inside
    mapInPandas (vectorized groupby-sum per Arrow batch merged into a
    capacity-`cap` counter set with the standard subtract-the-
    (cap+1)-th-largest prune), keyed on xxhash64(token) so the Arrow
    channel carries two int64 columns instead of strings (8.2 s ->
    1.5 s at sf10 when this was the registered plan). The pigeonhole
    guarantee: a token with global weight > W/256 has partition weight
    > W_p/256 in at least one partition — true under ANY row
    distribution, weighted or not — and a capacity-1024 MG never
    evicts a token whose partition weight exceeds W_p/1025, so the
    candidate set provably contains every true heavy hitter in
    <= cap x #partitions rows. A hash collision only MERGES counts
    upward, preserving the superset.

    Pass 2 is ONE fused scan: a conditional group key recounts each
    candidate exactly and collapses every non-candidate into a single
    NULL group, so one map-side-combined aggregate (state bounded at
    |candidates|+1) yields the exact candidate counts AND the grand
    total; the threshold then runs over an unpartitioned window on
    that bounded relation. Collision-smuggled candidates fail the
    exact threshold here.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql import Window

    configure(spark)
    tok = _hh_token_stream(spark, sf)
    tokh = tok.select(F.xxhash64("token").alias("th"), "tf")

    def mg_partition(batches):
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf.groupby("th")["tf"].sum()
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > cap:
                # prune: subtract the (cap+1)-th largest counter from
                # all, drop non-positive — the mergeable-MG step whose
                # total decrement is bounded by W_p/cap
                dec = counters.nlargest(cap + 1).iloc[-1]
                counters = counters[counters > dec] - dec
        yield pd.DataFrame({"th": counters.index.astype("int64")})

    candidates = tokh.mapInPandas(mg_partition, "th long").distinct()
    grouped = (
        tok.withColumn("th", F.xxhash64("token"))
        .join(F.broadcast(candidates.withColumn("is_c", F.lit(1))), "th", "left")
        .groupBy(
            F.when(F.col("is_c") == 1, F.col("token")).alias("token")
        )
        .agg(F.sum("tf").alias("cnt"))
    )
    return (
        grouped.withColumn("n_total", F.sum("cnt").over(Window.partitionBy()))
        .filter(
            F.col("token").isNotNull()
            & (F.col("cnt") > F.col("n_total") / 256.0)
        )
        .select("token", "cnt")
    )


@query(
    "q_sketch_cms",
    oracle="""
    -- verdict grid (see q_sketch_hll): exact top-50 token counts are
    -- the deterministic object; the CMS estimate's one-sided + slack
    -- guarantees are checked in-plan on the Spark side and pinned to 1
    WITH t AS (
      SELECT token, COUNT(*) AS exact_n
      FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY token
    )
    SELECT token, exact_n,
           CAST(1 AS BIGINT) AS est_ge,
           CAST(1 AS BIGINT) AS est_within
    FROM t
    ORDER BY exact_n DESC, token
    LIMIT 50
    """,
)
def q_sketch_cms(spark, sf):
    """Count-min sketch (d=4 × w=1024) over token frequencies, with
    BOTH CMS guarantees verified in-plan for the top-50 tokens:
    est ≥ exact (counts only ever collide upward — deterministic) and
    est ≤ exact + 8·N/w (the ε-slack bound with generous constant —
    deterministic for a fixed corpus + fixed hash family).

    The sketch builds as FOUR dictionary rollups: the (token, n)
    dictionary — itself a map-side-combined aggregate — re-keys by
    each row's bucket hash, so the sketch state is ≤ d·w integer
    cells no matter the corpus size, merges by addition (partition
    partials, day→month rollups), and answers point queries with a
    broadcast join against ≤ 4096 rows. That fixed-size-state +
    associative-merge contract is why CMS (like the HLL / GK /
    Misra-Gries entries in this module) is the 100 TB frequency
    story; the exact recount here is the correctness harness, not
    the production path.

    Reference parity: none (driver-mandated sketch surface; public
    algorithm — Cormode & Muthukrishnan 2005).
    """
    configure(spark)
    d_rows, w = 4, 1024
    art = artifacts.get(spark, sf, "doc_tokens")
    if art is not None:
        tok = art.filter(F.col("token") != "").select("token", "tf")
        exact = tok.groupBy("token").agg(F.sum("tf").alias("exact_n"))
    else:
        d = load(spark, sf, "documents")
        tok = (
            d.select(
                F.explode(F.split(F.lower("text"), " ")).alias("token")
            )
            .filter(F.col("token") != "")
            .select("token", F.lit(1).alias("tf"))
        )
        exact = tok.groupBy("token").agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_n")
        )
    # the token dictionary feeds the 4 bucket rollups, the top-50, the
    # probes and the grand total — persist it once (plan-audited: the
    # un-persisted form re-runs the corpus aggregation per branch)
    exact = exact.persist()
    total = exact.agg(F.sum("exact_n").alias("n_total"))

    def bucket(i):
        return F.pmod(
            F.xxhash64(F.concat(F.lit(str(i) + "#"), F.col("token"))),
            F.lit(w),
        )

    # d bucket rollups of the token dictionary = the CMS state
    cms = None
    for i in range(d_rows):
        row = exact.groupBy(bucket(i).alias("b")).agg(
            F.sum("exact_n").alias("cell")
        ).select(F.lit(i).alias("i"), "b", "cell")
        cms = row if cms is None else cms.unionAll(row)
    top = exact.orderBy(F.col("exact_n").desc(), "token").limit(50)
    # point queries: top tokens re-hash per row, join the tiny state
    probes = top.select(
        "token",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("b"))
                    for i in range(d_rows)
                ]
            )
        ).alias("p"),
    ).select("token", "exact_n", "p.i", "p.b")
    est = (
        probes.join(F.broadcast(cms), ["i", "b"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell").alias("est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "token",
        "exact_n",
        (F.col("est") >= F.col("exact_n")).cast("bigint").alias("est_ge"),
        (
            F.col("est")
            <= F.col("exact_n") + (F.lit(8) * F.col("n_total")) / F.lit(w)
        )
        .cast("bigint")
        .alias("est_within"),
    )


# ---------------------------------------------------------------------------
# Bloom filter — the set-membership member of the sketch family
# ---------------------------------------------------------------------------

#: Bloom geometry: m bits, k affine probes. m is a power of two so the
#: position arithmetic (pmod of a wrapping affine mix) is exactly
#: portable; the probe multipliers are the classic odd LCG multipliers
#: (invertible mod 2^64).
_BLOOM_M = 131072
_BLOOM_A = (2862933555777941757, 3202034522624059733, 3935559000370003845)
_BLOOM_B = (1442695040888963407, 1234567890123456789, 987654321987654321)


def _bloom_oracle() -> str:
    """SQL twin of q_sketch_bloom: identical shingle hashes (the
    portable md5-derived combine shared with the minhash family),
    identical wrapping affine probe positions, identical bit-set
    build and membership join."""
    from pandas_reporter_spark.operators.dedup import (
        _DUCK_TOKHASH,
        _SH_C,
        _duck_wrap64,
    )

    t = _DUCK_TOKHASH
    sh_sum = " + ".join(
        f"CAST({t.format(t=f'toks[i + {j}]')} AS HUGEINT) * {_SH_C[j]}"
        for j in range(3)
    )
    pos = ", ".join(
        "(("
        + _duck_wrap64(f"CAST(h AS HUGEINT) * {a} + {b}")
        + f") % {_BLOOM_M} + {_BLOOM_M}) % {_BLOOM_M}"
        for a, b in zip(_BLOOM_A, _BLOOM_B)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
               i -> {_duck_wrap64(sh_sum)}))) AS h
      FROM t WHERE len(toks) >= 3
    ),
    bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
    bits AS (
      SELECT DISTINCT unnest([{pos}]) AS pos FROM bench
    ),
    probe AS (SELECT doc_id, h FROM sh WHERE doc_id >= 25),
    ppos AS (
      SELECT doc_id, h, unnest([{pos}]) AS pos FROM probe
    ),
    hits AS (
      SELECT doc_id, h FROM ppos JOIN bits USING (pos)
      GROUP BY doc_id, h HAVING COUNT(*) = 3
    ),
    nb AS (SELECT doc_id, COUNT(*) AS n_bloom_pos FROM hits GROUP BY doc_id),
    ne AS (
      SELECT p.doc_id, COUNT(*) AS n_exact
      FROM probe p JOIN bench USING (h) GROUP BY p.doc_id
    )
    SELECT nb.doc_id, n_bloom_pos,
           COALESCE(n_exact, 0) AS n_exact,
           CAST(n_bloom_pos >= COALESCE(n_exact, 0) AS BIGINT) AS no_fn
    FROM nb LEFT JOIN ne USING (doc_id)
    """


@query("q_sketch_bloom", oracle=_bloom_oracle())
def q_sketch_bloom(spark, sf):
    """Explicit portable Bloom filter over the benchmark shingle set,
    probed by the corpus — the set-membership member of the sketch
    family (HLL=cardinality, GK=quantiles, MG=heavy hitters, CMS=
    frequency, Bloom=membership), and the scale tier of
    q_text_decontaminate: when the benchmark shingle set outgrows an
    exact broadcast set, the m-bit filter (fixed 16 KiB here) is what
    ships to every executor; positives then re-check exactly against
    the (much rarer) matching shingles.

    Distinct from q_join_bloom_pruned: that exercises Spark's
    RUNTIME bloom pushdown inside one query; this one builds the
    filter as a DATA ARTIFACT — mergeable by bitwise OR across
    ingest batches, storable next to the benchmark set, and
    bit-identically replayable in SQL (the bit set is a relation of
    set positions; the k=3 probe positions are wrapping affine mixes
    of the md5-derived shingle hashes shared with the minhash
    family).

    Emitted per corpus doc with ≥1 bloom-positive shingle:
    n_bloom_pos, the exact membership count n_exact, and the
    no-false-negatives verdict (pinned 1 — a Bloom filter may
    overcount, never undercount). n_bloom_pos − n_exact IS the
    false-positive count, value-hashed on both engines, so the fill
    ratio/FP behavior is deterministic and checked, not asserted.
    At 100 TB: bits build is one pass over the benchmark set (tiny);
    the probe is scan-speed (broadcast hash join against ≤m
    positions); per-doc rollup is map-side combinable.
    """
    configure(spark)
    from pandas_reporter_spark.operators.dedup import with_hashed_shingles

    docs = load(spark, sf, "documents")
    # the (doc_id, hs) relation is referenced THREE times below
    # (bench build + probe feeding both the bloom and exact branches);
    # reuse the session's checkpointed minhash shingle artifact when
    # materialized — otherwise persist, or the md5 tokenize pipeline
    # re-evaluates per branch (7.2 s -> 1.0 s measured at sf0.1)
    art = artifacts.get(spark, sf, "minhash")
    if art is not None:
        hs_df = art[0]
    else:
        from pyspark import StorageLevel

        hs_df = (
            with_hashed_shingles(docs)
            .select("doc_id", "hs")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    sh = hs_df.select("doc_id", F.explode("hs").alias("h"))

    def positions(hcol):
        return F.array(
            *[
                F.pmod(hcol * F.lit(a) + F.lit(b), F.lit(_BLOOM_M))
                for a, b in zip(_BLOOM_A, _BLOOM_B)
            ]
        )

    # bench set and bit set are tiny (≤m positions) but feed FOUR
    # broadcast build sides (3 probe joins + the exact marker); the
    # plan audit showed each build side re-running the bench scan +
    # distinct without these persists. This is also the production
    # shape: the filter is built once and probed many times.
    bench = (
        sh.filter(F.col("doc_id") < 25).select("h").distinct().persist()
    )
    bits = (
        bench.select(F.explode(positions(F.col("h"))).alias("pos"))
        .distinct()
        .persist()
    )
    probe = sh.filter(F.col("doc_id") >= 25)
    # Membership = ALL k probe positions set, applied as three chained
    # BROADCAST left-semi joins (one per probe) at scan speed — the
    # earlier explode(positions) + groupBy(doc_id, h) HAVING count=3
    # form shuffled 3x the corpus-shingle volume just to AND three
    # bit tests. Equivalent even under probe-position collisions:
    # count-with-multiplicity = 3 iff every probe hits, which is
    # exactly the semi-chain. The exact-membership count rides the
    # SAME pass: a Bloom filter has no false negatives, so every
    # exact member is bloom-positive and a broadcast marker join
    # ahead of the semi-chain replaces the separate probe-scan ne
    # branch and the final nb⋈ne join — one corpus-shingle scan
    # total (with the build-side persists above: 1.37 s -> 0.67 s at
    # sf0.1, shingle artifact primed).
    hits = probe.join(
        F.broadcast(bench.withColumn("is_m", F.lit(1))), "h", "left"
    )
    for probe_i, (a, b) in enumerate(zip(_BLOOM_A, _BLOOM_B)):
        bi = bits.withColumnRenamed("pos", f"pos{probe_i}")
        hits = hits.join(
            F.broadcast(bi),
            F.pmod(
                F.col("h") * F.lit(a) + F.lit(b), F.lit(_BLOOM_M)
            )
            == F.col(f"pos{probe_i}"),
            "left_semi",
        )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_pos"),
        F.sum(F.coalesce(F.col("is_m"), F.lit(0)))
        .cast("bigint")
        .alias("n_exact"),
    ).select(
        "doc_id",
        "n_bloom_pos",
        "n_exact",
        (F.col("n_bloom_pos") >= F.col("n_exact"))
        .cast("bigint")
        .alias("no_fn"),
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) — the distinct-count + coordinated-sample member
# ---------------------------------------------------------------------------

#: KMV size: estimator stderr ~ 1/sqrt(k-2) ~ 6.3%
_KMV_K = 256
#: (k-1) * 2^60 as an EXACT double (255 has 8 significant bits, so the
#: product is exactly representable); both engines fold the same
#: literal, divide by the same h_k, floor the same IEEE double — the
#: ESTIMATE itself is hash-checkable, unlike library-internal HLL
_KMV_NUM = 255.0 * 1152921504606846976.0


def _kmv_oracle() -> str:
    """SQL twin of q_sketch_kmv: identical portable 60-bit key hash
    (md5-derived, shared with the minhash family), identical bottom-k
    rank, identical IEEE estimate expression, identical verdict."""
    from pandas_reporter_spark.operators.dedup import _DUCK_TOKHASH

    kh = _DUCK_TOKHASH.format(t="CAST(o_custkey AS VARCHAR)")
    return f"""
    WITH h AS (
      SELECT DISTINCT o_orderpriority, {kh} AS h FROM orders
    ),
    r AS (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY h) AS rn
      FROM h
    ),
    ex AS (
      SELECT o_orderpriority, COUNT(*) AS exact_keys
      FROM h GROUP BY o_orderpriority
    ),
    kth AS (
      SELECT o_orderpriority, MAX(h) AS h_k, COUNT(*) AS k_found
      FROM r WHERE rn <= {_KMV_K} GROUP BY o_orderpriority
    )
    SELECT ex.o_orderpriority, exact_keys, h_k,
           CASE WHEN k_found < {_KMV_K} THEN exact_keys
                ELSE CAST(floor(({_KMV_NUM!r} + 0.0)
                                / CAST(h_k AS DOUBLE)) AS BIGINT)
           END AS est_keys,
           CAST(abs(CAST(CASE WHEN k_found < {_KMV_K} THEN exact_keys
                              ELSE CAST(floor(({_KMV_NUM!r} + 0.0)
                                        / CAST(h_k AS DOUBLE)) AS BIGINT)
                         END AS DOUBLE) - exact_keys)
                <= greatest(2.0, 0.2 * exact_keys) AS BIGINT) AS est_ok
    FROM ex JOIN kth USING (o_orderpriority)
    """


@query("q_sketch_kmv", oracle=_kmv_oracle())
def q_sketch_kmv(spark, sf):
    """KMV (k-minimum-values / bottom-k) sketch per order priority:
    distinct-customer estimate AND a coordinated uniform key sample
    in one mergeable bounded-state summary — the sampling member of
    the sketch family (HLL=cardinality, GK=quantiles, MG=heavy
    hitters, CMS=frequency, Bloom=membership, KMV=cardinality+
    SAMPLE). Bar-Yossef et al. 2002; the k smallest hash values of a
    group's key set are simultaneously (a) the cardinality estimator
    est = (k-1)/F(h_(k)) with F(h) = h/2^60 and (b) a coordinated
    uniform sample of the keys (the same keys are sampled in EVERY
    group/partition/ingest batch, so set operations on samples are
    meaningful) — merging two sketches is union + re-rank + truncate.

    Because the key hash is the portable md5-derived 60-bit hash the
    minhash family uses, the WHOLE sketch — including the estimate's
    float arithmetic, written as the identical IEEE sequence in both
    engines ((k-1)·2^60 is an exact double; one division; one floor)
    — is value-hash-checked against DuckDB, not just bounded like
    the HLL verdict grid. Emitted per group: exact_keys (the
    correctness harness), h_k (the sample threshold — the sketch
    state's fingerprint), est_keys, and the est_ok tolerance verdict
    (3σ ≈ 19% at k=256, pinned at 20%).

    Plan: one (group, key-hash) DISTINCT reduction (the pair
    dictionary — the only corpus-scale shuffle, map-side combined),
    then a per-group bottom-k rank over the DICTIONARY (not the
    corpus; dictionary = distinct keys per group). At 100 TB with
    billions of distinct keys, the rank input is pre-pruned by a
    static uniform threshold (h < c·2^60 keeps c of the dictionary,
    valid while ≥ k survivors/group remain) — documented rather than
    applied, since bench-SF groups would fall under k survivors.

    Reference parity: none (driver-mandated sketch surface).
    """
    from pyspark.sql import Window as W

    from pandas_reporter_spark.operators.dedup import portable_token_hash

    configure(spark)
    o = load(spark, sf, "orders")
    h = (
        o.select(
            "o_orderpriority",
            portable_token_hash(
                F.col("o_custkey").cast("string")
            ).alias("h"),
        )
        .distinct()
        .persist()
    )
    ex = h.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("exact_keys")
    )
    w = W.partitionBy("o_orderpriority").orderBy("h")
    kth = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("o_orderpriority")
        .agg(
            F.max("h").alias("h_k"),
            F.count(F.lit(1)).alias("k_found"),
        )
    )
    est = F.when(
        F.col("k_found") < _KMV_K, F.col("exact_keys")
    ).otherwise(
        F.floor(F.lit(_KMV_NUM) / F.col("h_k").cast("double"))
    )
    return (
        ex.join(kth, "o_orderpriority")
        .withColumn("est_keys", est)
        .select(
            "o_orderpriority",
            "exact_keys",
            "h_k",
            "est_keys",
            (
                F.abs(
                    F.col("est_keys").cast("double")
                    - F.col("exact_keys")
                )
                <= F.greatest(
                    F.lit(2.0), F.lit(0.2) * F.col("exact_keys")
                )
            )
            .cast("bigint")
            .alias("est_ok"),
        )
    )
