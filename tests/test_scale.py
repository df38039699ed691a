"""Plan-property pins for the scale techniques (operators/scale.py).

The oracle checks semantics; these tests pin the PLANS — the part that
matters at 100 TB and that a result comparison can't see.
"""

from __future__ import annotations

import io
import contextlib

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.operators.scale import (
    q_join_bucketed,
    q_join_salted,
    q_partition_pruned_scan,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key → SortMergeJoin with zero
    Exchange nodes: the co-location actually eliminated the shuffle."""
    df = q_join_bucketed(spark, SF)
    p = plan_of(df)
    assert "SortMergeJoin" in p
    # in the tree rendering the join's CHILDREN print below it; no
    # Exchange may appear between the join and its scans
    tree = p.split("(1) Scan")[0]
    below_join = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in below_join
    assert "Bucketed: true" in p
    assert "SelectedBucketsCount" in p  # scan is bucket-aware


def test_salted_join_broadcasts_and_matches(spark):
    """Salted dim is broadcast; the join key includes the salt."""
    df = q_join_salted(spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    rows = {r["l_returnflag"]: r["n"] for r in df.collect()}
    # identity-join semantics: per-flag counts equal raw counts
    from pandas_reporter_spark.tables import load

    raw = {
        r["l_returnflag"]: r["n"]
        for r in load(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert rows == raw


def test_partition_pruned_scan_prunes(spark):
    """The filtered read of the lang-partitioned copy must show
    partition filters on lang and read only 2 of the partitions."""
    df = q_partition_pruned_scan(spark, SF)
    p = plan_of(df)
    assert "PartitionFilters" in p and "lang" in p


def test_pipeline_curate_plan_fuses_gate_into_scan(spark):
    """The composed curation pipeline reads the corpus ONCE with the
    quality gate fused into the scan stage and columns pruned to
    (doc_id, text, lang); the only exchanges are the dedup groupBy
    and the per-lang rollup."""
    from pandas_reporter_spark.operators.text import q_pipeline_curate

    p = plan_of(q_pipeline_curate(spark, SF))
    # one scan node: appears once as a "(N) Scan parquet" detail header
    assert p.count(") Scan parquet") == 1
    scan = p.split("(1) Scan parquet")[1]
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in scan
    assert "IsNotNull(text)" in scan  # null gate pushed to the reader
    assert p.count(") Exchange") == 2  # dedup + rollup, nothing else


def test_quantized_sum_headroom(spark):
    """ADVICE guard: the floor(x·10^s+0.5) BIGINT quantizer saturates
    silently on overflow in non-ANSI Spark while DuckDB errors — so pin
    that driver-scale data keeps ample headroom: even a 1000× scale-up
    of the sf0.01 totals stays under 2^63 for every quantized column."""
    import duckdb

    con = duckdb.connect()
    budget = 2**63 - 1
    for table, col, scale in (
        ("lineitem", "l_quantity", 100),
        ("lineitem", "l_extendedprice", 10_000),
        ("events", "value", 100),
        ("documents", "n_chars", 1),
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{table}.parquet')"
        )
        total = con.execute(
            f"SELECT SUM(CAST(abs({col}) AS HUGEINT)) * {scale} FROM t"
        ).fetchone()[0]
        assert total * 1000 < budget, (table, col, total)


def test_sorted_layout_pushes_range_predicate(spark):
    """The range predicate must reach the parquet reader of the
    sort-clustered copy (PushedFilters GTE/LTE on n_chars), which is
    what lets footer min/max stats skip non-overlapping files."""
    from pandas_reporter_spark.operators.scale import q_layout_sorted_scan

    df = q_layout_sorted_scan(spark, SF)
    p = plan_of(df)
    scan = p.split(") Scan parquet")[1]
    assert "GreaterThanOrEqual(n_chars,250)" in scan
    assert "LessThanOrEqual(n_chars,350)" in scan


def test_tpch_q5_preagg_shape(spark):
    """The r11 Q5 rewrite's plan contract: dims broadcast (supplier⨝
    nation⨝region collapse into one broadcast build, plus customer
    into the oc leg and the final n_name resolve), revenue
    pre-aggregates BELOW the fact-fact join (partial_sum under the
    join), the pre-agg's group key equals the join key so its single
    Exchange serves both (the superset-key trap would add a fourth),
    and region/date filters reach their scans as pushed predicates.
    Exactly 3 non-broadcast Exchanges at the stock layout: pre-agg,
    oc leg, final rollup."""
    import re

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_tpch_q5"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 4
    tree = p.split("(1) Scan")[0]
    plain_exchanges = len(re.findall(r"Exchange \(\d+\)", tree)) - tree.count(
        "BroadcastExchange"
    )
    assert plain_exchanges == 3, tree
    assert "partial_sum" in p  # revenue combines map-side, below the join
    assert "EqualTo(r_name,ASIA)" in p  # pushed to the region scan
    assert "GreaterThanOrEqual(o_orderdate" in p  # pushed to orders


def test_tpch_q18_aggregates_before_join(spark):
    """Aggregate-as-join-input: the per-order quantity rollup must sit
    BELOW the joins (partial aggregate on the lineitem scan), and the
    top-100 compiles to TakeOrderedAndProject, not a global sort."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_tpch_q18"](spark, SF))
    assert "TakeOrderedAndProject" in p
    # map-side combine on the lineitem scan: a partial_sum of the
    # quantity units must exist (the fact collapses before joining)
    assert "partial_sum" in p
    # the >200 selectivity filter applies to the aggregated sum_qty,
    # not to raw lineitem rows
    assert "sum_qty" in p and "200" in p


def test_bloom_pruned_join_filters_before_exchange(spark):
    """The runtime bloom filter must (a) exist as a might_contain
    predicate on the probe side, (b) sit BELOW the probe-side
    exchange (pre-shuffle row drop — the whole point), and (c) not
    change the answer vs the plain join."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES["q_join_bloom_pruned"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in p
    filter_pos = p.index("might_contain")
    # the probe-side scan (lineitem) feeds an Exchange; the tree
    # printout lists parents before children, so the bloom-filter line
    # must appear AFTER (= deeper than) the exchange it feeds — i.e.
    # the filter evaluates between scan and shuffle, dropping rows
    # before they are ever written to shuffle files
    assert "Exchange" in p and p.index("Exchange") < filter_pos
    # semantics: identical to the plain broadcast-join answer
    from pyspark.sql import functions as F
    from pandas_reporter_spark.tables import load as tload

    o = tload(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = tload(spark, SF, "lineitem")
    plain = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # session confs restored: broadcast threshold is back
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_tpch_q4_plans_left_semi(spark):
    """EXISTS must compile to a LEFT SEMI hash join (no lineitem
    column materialization, no row duplication) with the date filter
    pushed to the orders scan."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_tpch_q4"](spark, SF))
    assert "LeftSemi" in p
    assert "IsNotNull(o_orderdate)" in p or "GreaterThanOrEqual(o_orderdate" in p


def test_tpch_q6_pushes_all_predicates(spark):
    """All three Q6 predicates must reach PushedFilters on the
    lineitem scan, and the read schema must carry only the four
    referenced columns."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_tpch_q6"](spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    # column pruning: no returnflag/tax/orderkey in the scan schema
    sched = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_returnflag" not in sched and "l_tax" not in sched


def test_aqe_splits_skewed_join_partition(spark):
    """The engine's skew posture (session.py turns AQE skew-join on)
    must actually SPLIT a hot-key partition: a 100:1 skewed sort-merge
    join, executed with test-scale thresholds, has to show
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead in the FINAL
    adaptive plan. (The final plan only exists after execution — an
    unexecuted explain() shows isFinalPlan=false and no skew markers.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "16",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 500000).select(
            (F.col("id") * 0).alias("k"), F.rand(1).alias("v")
        ).union(
            spark.range(0, 5000).select(
                (F.col("id") % 50 + 1).alias("k"), F.rand(2).alias("v")
            )
        )
        small = spark.range(0, 51).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        j = big.join(small, "k").select("k", "v", "tag")
        assert len(j.collect()) == 505000  # every row joins exactly once
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q21_self_joins_share_orderkey_partitioning(spark):
    """The Q21 topology: late-lines slice probed by a LEFT SEMI
    (another supplier exists) then a LEFT ANTI (no other late
    supplier) — both legs must plan as non-broadcast joins keyed on
    l_orderkey (fact-sized sides), with the supplier/nation dim side
    BROADCAST, and probe rows never duplicated (semi/anti forms)."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_tpch_q21"](spark, SF))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p  # the supplier⨝nation dim leg
    # all three self-join legs hash on the orderkey equi-pair; the
    # non-equi suppkey residual stays a join CONDITION, never a
    # cross product
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_langid_probe_side_has_no_shuffle(spark):
    """q_text_langid's probe side must be shuffle-free: documents scan
    → array_intersect against the BROADCAST profiles → one final
    combinable aggregate. The only shuffle exchanges allowed in the
    whole plan are the profile build's (lang, token) aggregate + its
    top-k window and the final per-doc argmax — no exploded-corpus
    repartition, no scores shuffle, no rank window over docs."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = plan_of(QUERIES["q_text_langid"](spark, SF))
    # profile side: 2 shuffles (agg + window); probe side: 1 (argmax
    # partial→final). Anything beyond that is a regression.
    assert p.count("Exchange hashpartitioning") <= 3, p
    assert "BroadcastExchange" in p
    # the probe never explodes: exactly ONE Generate (profile build's
    # explode); the scorer is array_intersect in a Project
    # formatted explain prints each node twice (tree + details):
    # "Generate (id)" appears once per node in the tree section
    assert p.count("Generate (") == 1, p
    assert "array_intersect" in p


def test_funnel_single_exchange_single_scan(spark):
    """r6 rewrite pin: the funnel is ONE events scan and ONE hash
    Exchange — both windows and the final collapse reuse the user_id
    partitioning (ClusteredDistribution already satisfied)."""
    from pandas_reporter_spark.operators.events import q_events_funnel

    plan = plan_of(q_events_funnel(spark, SF))
    # formatted mode: tree nodes render as "+- Exchange (n)"; a second
    # Exchange (or any BroadcastExchange) would add distinct entries
    assert plan.count("+- Exchange") == 1
    assert "BroadcastExchange" not in plan
    # one physical scan = at most two mentions (tree node + the
    # formatted-mode details section repeats each node header)
    assert plan.count("Scan parquet") <= 2


def test_maxsim_broadcasts_query_side(spark):
    """MaxSim's 4-vector query side must broadcast (never shuffle the
    corpus against it) and both aggregations must partial-aggregate."""
    from pandas_reporter_spark.operators.similarity import (
        q_similarity_maxsim,
    )

    plan = plan_of(q_similarity_maxsim(spark, SF))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two aggs


def test_pagerank_reuses_persisted_edge_artifact(spark):
    """All five iterations must read the SAME persisted edge relation
    (InMemoryTableScan appears once per iteration join, not a parquet
    re-scan per iteration) — the no-driver-loop iterative pattern."""
    from pandas_reporter_spark.operators.graph import q_graph_pagerank

    plan = plan_of(q_graph_pagerank(spark, SF))
    # every iteration's join legs read cached relations (ej + nodes),
    # so InMemoryTableScan appears throughout the tree. (Raw "Scan
    # parquet" counts are NOT meaningful here: formatted explain
    # prints each cached relation's STORED lineage, which includes the
    # original scan — execution replays it at most once per artifact.)
    assert plan.count("InMemoryTableScan") >= 10


def test_kmeans_broadcasts_centroids_not_corpus(spark):
    """Each Lloyd round must broadcast the k x dim centroid relation
    (KBs) and never the quantized corpus; the corpus side feeds the
    nested-loop probe as the streamed side."""
    from pandas_reporter_spark.operators.similarity import q_embed_kmeans

    df = q_embed_kmeans(spark, SF)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # every embeddings scan must sit on the STREAMED side: no
    # BroadcastExchange may directly wrap an embeddings file scan
    for frag in p.split("BroadcastExchange")[1:]:
        head = frag.split("Scan parquet")[0]
        assert "embeddings.parquet" not in head


def test_kmv_ranks_the_dictionary_not_the_corpus(spark):
    """The bottom-k window must consume the (group, hash) DISTINCT
    dictionary, not raw orders rows: a HashAggregate (the distinct)
    must appear below the Window in the plan tree."""
    from pandas_reporter_spark.operators.sketch import q_sketch_kmv

    df = q_sketch_kmv(spark, SF)
    p = plan_of(df)
    assert "Window" in p
    below_window = p.split("Window", 1)[1]
    assert "HashAggregate" in below_window


def test_at_rest_bucketed_layout_redirects_and_joins_shuffle_free(spark):
    """tables.use_bucketed_layout: the full lineitem/orders tables
    written co-bucketed on orderkey in 32 buckets; `load` serves them
    transparently and an orders⨝lineitem join on the bucket key plans
    with no Exchange under the join (the q_join_bucketed property, now
    at-rest for every downstream query)."""
    from pyspark.sql import functions as F

    from pandas_reporter_spark import tables

    try:
        assert tables.use_bucketed_layout(spark, SF)
        li = tables.load(spark, SF, "lineitem")
        o = tables.load(spark, SF, "orders")
        j = (
            li.hint("merge")
            .join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = plan_of(j)
        assert "Bucketed: true" in p
        tree = p.split("(1) Scan")[0]
        below_join = tree.split("SortMergeJoin")[1]
        assert "Exchange" not in below_join
        n1 = li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        # the layout is session-global state shared with every other
        # test on this session — never leak it
        for name in tables.BUCKETED:
            artifacts.drop(spark, SF, name)
    # row parity with the raw-parquet join (layout never changes data)
    li0 = tables.load(spark, SF, "lineitem")
    o0 = tables.load(spark, SF, "orders")
    n0 = li0.join(o0, li0.l_orderkey == o0.o_orderkey).count()
    assert n0 == n1


def test_bucketed_layout_validates_and_rebuilds_in_place(spark, tmp_path):
    """A bucket split over two files breaks the one-sorted-file-per-
    bucket invariant the layout's planner confs rely on: that table is
    rejected and `load` keeps the stock scan. Rebuilt at the same path
    in the same session, the layout reads the new files, not the file
    listing the catalog cached for the first build."""
    import os
    import shutil

    from pandas_reporter_spark import tables

    base = str(tmp_path)
    out = artifacts.path(spark, SF, "bucketed_lineitem", base)

    def deactivate():
        for name in tables.BUCKETED:
            artifacts.drop(spark, SF, name)

    try:
        assert tables.use_bucketed_layout(spark, SF, base)
        n = tables.load(spark, SF, "lineitem").count()
        deactivate()
        f = next(f for f in os.listdir(out) if f.endswith(".parquet"))
        shutil.copy(os.path.join(out, f), os.path.join(out, f"x{f}"))
        assert not tables.use_bucketed_layout(spark, SF, base)
        assert "Bucketed" not in plan_of(tables.load(spark, SF, "lineitem"))
        deactivate()
        shutil.rmtree(out)
        assert tables.use_bucketed_layout(spark, SF, base)
        assert tables.load(spark, SF, "lineitem").count() == n
    finally:
        deactivate()


def test_bucketed_atrest_query_scopes_its_redirect(spark):
    """q_join_bucketed_atrest must not leave the session-global load
    redirect behind — a later query's physical plan must not change
    because this one ran first."""
    from pandas_reporter_spark import tables
    from pandas_reporter_spark.operators.scale import q_join_bucketed_atrest

    assert not tables.bucketed_active(spark, SF)
    df = q_join_bucketed_atrest(spark, SF)
    assert not tables.bucketed_active(spark, SF)  # dropped at build time
    assert df.count() >= 1  # plan still executes after the un-redirect


def test_bucketed_atrest_redirect_restores_on_exception(spark, monkeypatch):
    """VERDICT r10 #7: if the query body raises AFTER the redirect is
    installed, the finally must still drop it — otherwise one failed
    query silently changes every later plan in the session. (The
    redirect remains single-session by design; concurrent sessions
    each build/scope their own layout — SURVEY §4.3.)"""
    import pandas_reporter_spark.operators.scale as scale_mod
    from pandas_reporter_spark import tables
    from pandas_reporter_spark.operators.scale import q_join_bucketed_atrest

    assert not tables.bucketed_active(spark, SF)

    real_load = scale_mod.load
    calls = {"n": 0}

    def exploding_load(spark_, sf_, name_):
        # let the layout build (it calls tables.load internally, not
        # this import), then fail the query body's first load
        calls["n"] += 1
        raise RuntimeError("simulated plan-construction failure")

    monkeypatch.setattr(scale_mod, "load", exploding_load)
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="simulated"):
            q_join_bucketed_atrest(spark, SF)
    finally:
        monkeypatch.setattr(scale_mod, "load", real_load)
    assert calls["n"] == 1
    # the redirect must be gone and a fresh load must see raw parquet
    assert not tables.bucketed_active(spark, SF)
    li = tables.load(spark, SF, "lineitem")
    assert li.count() > 0


def test_partition_helpers():
    from pandas_reporter_spark.session import scaled_partitions

    assert scaled_partitions(0) == 8
    assert scaled_partitions(16_000) == 8
    assert scaled_partitions(1_600_000) == 16
    assert scaled_partitions(10**9) == 10_000


def test_scd2_single_exchange_single_sort(spark):
    """q_events_scd2's contract: the change detector, run collapse,
    and interval close all share the user_id partitioning, so the
    WHOLE plan carries exactly one Exchange and one Sort — at 100 TB
    it's one by-key repartition of the event log and nothing else."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = (
        QUERIES["q_events_scd2"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange") == 1, p
    assert p.count("Sort ") == 1, p


def test_url_normalize_single_exchange(spark):
    """q_text_url_normalize's contract: canonicalization is one narrow
    codegen stage; the only Exchange is the canonical-key groupBy."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = (
        QUERIES["q_text_url_normalize"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange") == 1, p


def test_pq_adc_scoring_broadcasts_lookup_table(spark):
    """q_similarity_pq_adc's contract: the ADC score join is a
    BROADCAST of the M*K-entry lookup table (KBs at any corpus
    scale) — the encoded corpus is never shuffled for scoring, and
    the result is a TakeOrdered, not a global sort."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    p = (
        QUERIES["q_similarity_pq_adc"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_bucketed_confs_do_not_change_foreign_plans(spark):
    """VERDICT r11 item 6 — the use_bucketed_layout conf contract:
    activation sets two session-wide planner confs
    (legacy.bucketedTableScan.outputOrdering, replaceHashWithSortAgg).
    Both must be (a) actually set after activation and (b) inert for
    queries OUTSIDE the bucketed layout: a groupBy on a non-bucketed
    table has no satisfied child ordering, so replaceHashWithSortAgg
    must not fire — the aggregate still plans as HashAggregate, not a
    sort-injecting SortAggregate."""
    from pyspark.sql import functions as F

    from pandas_reporter_spark import tables

    try:
        assert tables.use_bucketed_layout(spark, SF)
        assert (
            spark.conf.get(
                "spark.sql.legacy.bucketedTableScan.outputOrdering"
            )
            == "true"
        )
        assert (
            spark.conf.get("spark.sql.execution.replaceHashWithSortAgg")
            == "true"
        )
        # a non-bucketed table's aggregate in the SAME session: the
        # plan must be the ordinary hash aggregate, unchanged by the
        # layout's confs
        c = tables.load(spark, SF, "customer")
        agg = c.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("n")
        )
        p = plan_of(agg)
        assert "HashAggregate" in p
        assert "SortAggregate" not in p
    finally:
        for name in tables.BUCKETED:
            artifacts.drop(spark, SF, name)


def test_no_sort_aggregates_in_registry_plans(spark):
    """Registry-wide plan lint (r12): no registered query's fresh-
    session plan may contain a SortAggregate. Order-sensitive or
    var-length-buffer aggregates (first/min_by over strings, arrays
    riding in min(struct)) silently demote HashAggregate to
    SortAggregate — a per-partition SORT of the aggregate's full
    input stream, invisible to result checks. NOT every demotion is
    a loss (the r12 A/B kept three keeper shapes sort-based: packing
    their string riders to fixed-width scalars measured SLOWER at
    sf10 — SCALING.md "plan audit"), so the point of this lint is
    that every SortAggregate in the registry is a DECISION with a
    measurement attached, not an accident. Whitelist:
    q_profile_table (string min/max IS the profiler's semantics) and
    the three text-keyed keeper dedups whose sort form won its A/B.

    Streaming queries are skipped: their plans only exist inside a
    started stream."""
    import io
    import contextlib

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    allowed = {
        "q_profile_table",
        "q_dedup_exact",
        "q_pipeline_curate",
        "q_pipeline_pretrain",
        # r13 A/B-kept: the argmax's struct ordering key (cos DESC,
        # id ASC) demotes to SortAggregate; the hash-able two-pass
        # recomputes the interpreted cosine fan-out and measured 2x
        # slower at sf100 (28.7 vs 15.1 s) — similarity.py docstring
        "q_embed_hard_negatives",
    }
    offenders = {}
    for name, fn in QUERIES.items():
        if name.startswith("q_stream") or "stream" in name or name in (
            "q_events_stateful",
        ):
            continue
        try:
            df = fn(spark, SF)
        except Exception:
            continue  # streaming/stateful shapes that need a sink
        # q_join_bucketed_atrest's layout build (run by this very
        # loop) sets replaceHashWithSortAgg session-wide; that rule
        # only converts when the child ordering is ALREADY satisfied
        # (zero extra sort — beneficial, not the demotion this lint
        # hunts), so pin it off for the explain itself
        spark.conf.set(
            "spark.sql.execution.replaceHashWithSortAgg", "false"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        n = p.count("SortAggregate")
        if n and name not in allowed:
            offenders[name] = f"SortAggregate x{n}"
        # same sweep, two more registry-wide invariants:
        # (a) no row-at-a-time Python UDFs — BatchEvalPython is the
        #     interpreted per-row path; every Python kernel here must
        #     be Arrow-vectorized (ArrowEvalPython / mapInPandas)
        if "BatchEvalPython" in p:
            offenders[name] = "BatchEvalPython (row-at-a-time UDF)"
        # (b) no CartesianProduct — broadcast-scalar crossJoins
        #     compile to BroadcastNestedLoopJoin; a CartesianProduct
        #     node means both sides were corpus-sized. q_join_cross
        #     is the deliberate demonstration query.
        if "CartesianProduct" in p and name != "q_join_cross":
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders


def test_pq_artifact_path_scans_codes_not_vectors(spark, tmp_path):
    """The at-rest PQ query's corpus-scale input must be the CODES
    table; the only embeddings access is the pushed-down vec_id
    point lookup for the query vector."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    artifacts.drop(spark, sf, "pq_index")
    artifacts.build(spark, sf, "pq_index", base=str(tmp_path))
    try:
        assert artifacts.get(spark, sf, "pq_index") is not None
        p = plan_of(QUERIES["q_similarity_pq_adc"](spark, sf))
        # the codes artifact is a scanned input
        assert "codes" in p
        # every embeddings scan carries the pushed point-lookup —
        # no full-vector corpus scan remains on the query path
        for blk in p.split("\n\n"):
            if "Scan parquet" in blk and "embeddings.parquet" in blk:
                assert "EqualTo(vec_id,0)" in blk, blk
    finally:
        artifacts.drop(spark, sf, "pq_index")
