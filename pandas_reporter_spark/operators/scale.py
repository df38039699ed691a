"""Scale-technique operators: bucketing, salting, partition pruning.

Each 100 TB technique is a driver-verified query whose RESULT equals
the plain relational answer (oracle hash-check) while the PLAN shows
the scale property — shuffle-free bucketed join, skew-safe salted
join, source-level partition pruning. tests/test_scale.py pins the
plan properties; the oracle pins the semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pandas_reporter_spark import artifacts, tables
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure
from pandas_reporter_spark.tables import dsum, load, open_bucketed, write_bucketed

_N_BUCKETS = 8
_N_SALTS = 8

#: q_join_bucketed's 2-column slice: table -> (bucket column, payload)
_SLICE = {
    "lineitem": ("l_orderkey", "l_extendedprice"),
    "orders": ("o_orderkey", "o_orderstatus"),
}


def _slice(spark, sf, table):
    return load(spark, sf, table).select(*_SLICE[table])


def _build_slice(spark, sf, path):
    for t, cols in _SLICE.items():
        out = os.path.join(path, t)
        write_bucketed(_slice(spark, sf, t), cols[0], _N_BUCKETS, out)


def _open_slice(spark, sf, path):
    return tuple(
        open_bucketed(
            spark, _slice(spark, sf, t).schema, cols[0], _N_BUCKETS,
            os.path.join(path, t),
        )
        for t, cols in _SLICE.items()
    )


def _build_part_docs(spark, sf, path):
    load(spark, sf, "documents").write.partitionBy("lang").parquet(path)


def _build_sorted_docs(spark, sf, path):
    (
        load(spark, sf, "documents")
        .repartitionByRange(8, "n_chars")
        .sortWithinPartitions("n_chars")
        .write.parquet(path)
    )


# The inputs these queries demonstrate reading: one-time table prep a
# cluster pays at ingest, so each is an artifact, built on a query's
# first call and reused across calls, sessions and processes. The
# slice reads orders too; a regenerated snapshot rewrites both tables.
artifacts.declare("bucket_slice", "lineitem", "buckets", _build_slice, _open_slice)
artifacts.declare("part_docs", "documents", "part_docs", _build_part_docs)
artifacts.declare("sorted_docs", "documents", "sorted_docs", _build_sorted_docs)
INPUTS = ("bucket_slice", "part_docs", "sorted_docs")


def _input(spark, sf, name):
    """The registered input artifact `name`, built on first use, or
    None when it could not be built: the query then reads the same
    rows through `load`, in a plan without the property it shows."""
    artifacts.build(spark, sf, name)
    return artifacts.get(spark, sf, name)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_bucketed(spark, sf):
    """Co-located join via bucketed tables — the shuffle-elimination path.

    Both sides are written bucketed (and sorted) by the join key into
    `_N_BUCKETS` buckets; the sort-merge join then reads bucket i of
    each side in task i — NO Exchange on either side (pinned by
    tests/test_scale.py). At 100 TB this is the difference between
    shuffling both fact tables per join and shuffling neither for
    every downstream join on the same key; the MERGE hint keeps AQE
    from demoting the demonstration to a broadcast at toy scale.
    """
    configure(spark)
    lb, ob = _input(spark, sf, "bucket_slice") or (
        _slice(spark, sf, "lineitem"),
        _slice(spark, sf, "orders"),
    )
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price"))
    )


@query(
    "q_join_bucketed_atrest",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_bucketed_atrest(spark, sf):
    """The FULL-TABLE at-rest co-bucketed layout as a verified query
    (round 10): `tables.use_bucketed_layout` writes complete
    lineitem/orders bucketed+sorted on orderkey and `load` redirects,
    so the join + status rollup plan with zero Exchange under the join
    — the layout decision the TPC-H Q3/Q5/Q18 sf10 A/B in SCALING.md
    measures (3-query marginal 3–10× → 1.73× vs DuckDB). Differs from
    q_join_bucketed (a 2-column demonstration slice) in that THIS is
    the ingest-shaped artifact every downstream orderkey join shares.

    The layout is session-global state, so this query scopes it:
    `tables.use_bucketed_layout` builds (or reuses) and registers the
    two tables for plan construction, and unless some other caller had
    already activated them, this query drops their registration again
    (`artifacts.drop`) — a later query in the same session must not
    silently change physical plans because this one ran first. The
    files stay, so the next call's activation is a `_SUCCESS` reuse
    plus a metadata-only CREATE. Falls back to the plain scan
    (identical result, shuffled plan) when the layout cannot be built
    — the oracle checks semantics either way.
    """
    configure(spark)
    active = tables.bucketed_active(spark, sf)
    scoped = tables.use_bucketed_layout(spark, sf) and not active
    try:
        li = load(spark, sf, "lineitem")
        o = load(spark, sf, "orders")
        return (
            li.hint("merge")
            .join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                dsum("l_extendedprice").alias("sum_price"),
            )
        )
    finally:
        if scoped:
            for name in tables.BUCKETED:
                artifacts.drop(spark, sf, name)


@query(
    "q_join_salted",
    oracle="""
    -- the salted join is semantically the identity join on l_returnflag:
    -- every (flag, salt) fact row matches exactly one replicated dim row
    SELECT l_returnflag, 'flag_' || l_returnflag AS flag_name,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_join_salted(spark, sf):
    """Skew-safe salted join: fact side salts, dim side replicates.

    `l_returnflag` has 3 values over the whole fact table — the
    textbook hot-key join. The fact side appends salt = pmod(xxhash64
    (row-identity), N); the dim side cross-joins the salt domain
    (dim×N rows, still tiny); the join key becomes (key, salt), so
    each hot key spreads over N reducers instead of one straggler.
    Result is identical to the unsalted join — which is exactly what
    the oracle checks. (AQE skew-join does this adaptively; explicit
    salting is the portable form and composes with aggregates.)
    """
    configure(spark)
    li = load(spark, sf, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_N_SALTS))
    )
    # tiny dim keyed by the skewed value
    dim = (
        load(spark, sf, "lineitem")
        .select("l_returnflag")
        .distinct()
        .withColumn("flag_name", F.concat(F.lit("flag_"), F.col("l_returnflag")))
    )
    salts = spark.range(_N_SALTS).select(F.col("id").alias("salt"))
    dim_salted = dim.crossJoin(salts)
    return (
        li.join(
            F.broadcast(dim_salted),
            ["l_returnflag", "salt"],
        )
        .groupBy("l_returnflag", "flag_name")
        .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "q_partition_pruned_scan",
    oracle="""
    SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang IN ('en', 'de')
    GROUP BY lang, source
    """,
)
def q_partition_pruned_scan(spark, sf):
    """Hive-partitioned write + partition-pruned read.

    documents are re-written `partitionBy(lang)`; the filtered read
    then lists ONLY the en/de directories — partition pruning at the
    source, before any IO (PartitionFilters in the scan node, pinned
    by tests/test_scale.py). At 100 TB this is the primary access-path
    optimization: a predicate on the partition column turns a full-
    corpus scan into a directory listing.
    """
    configure(spark)
    d = _input(spark, sf, "part_docs")
    if d is None:
        d = load(spark, sf, "documents")
    back = d.filter(F.col("lang").isin("en", "de"))
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "q_layout_sorted_scan",
    oracle="""
    SELECT source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE n_chars BETWEEN 250 AND 350
    GROUP BY source
    """,
)
def q_layout_sorted_scan(spark, sf):
    """Sort-clustered layout + min/max data skipping — the third
    access path next to partition pruning (q_partition_pruned_scan)
    and bucketing (q_join_bucketed).

    documents are rewritten `repartitionByRange(n_chars)` +
    `sortWithinPartitions(n_chars)`, so every parquet file/row-group
    covers a narrow disjoint n_chars range and its footer min/max
    stats answer range predicates BEFORE decoding pages. The filtered
    read pushes the BETWEEN down (PushedFilters, pinned in
    tests/test_scale.py) and touches only the files whose stats
    overlap — on a 100 TB corpus a selective range predicate on the
    cluster key skips all but a few input splits, which is exactly
    the Z-order/cluster-by discipline table formats formalize (a
    single sort key needs no Z-curve; multi-key clustering would
    interleave bits the same way). The oracle pins that the layout
    rewrite changes NOTHING semantically.
    """
    configure(spark)
    d = _input(spark, sf, "sorted_docs")
    if d is None:
        d = load(spark, sf, "documents")
    back = d.filter(F.col("n_chars").between(250, 350))
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "q_join_bloom_pruned",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_bloom_pruned(spark, sf):
    """Runtime bloom-filter semi-join reduction — the 100 TB shuffle
    join where NEITHER side broadcasts.

    At warehouse scale a selective dim filter can't become a broadcast
    join (the filtered side is still GBs), so the shuffle moves every
    probe-side row — including the ~95% that will never match. Spark's
    InjectRuntimeFilter fixes that: it builds a bloom filter over the
    creation side's join keys and pushes `might_contain(l_orderkey)`
    into the probe-side SCAN, so non-matching rows are dropped before
    the exchange. Shuffle volume becomes O(matches), not O(table).

    Locally the filtered orders side broadcasts (64 MB threshold), and
    Spark (correctly) skips the bloom filter when it plans a broadcast
    join — so to demonstrate the technique this query plans itself
    under scoped confs that mirror the cluster reality (broadcast off,
    bloom thresholds at local scale), FORCES physical planning while
    they're active, then restores the session. The physical plan is
    cached on this DataFrame, so the driver's later .collect() executes
    the bloom-pruned plan; tests/test_scale.py pins
    `might_contain` + the pre-exchange Filter position structurally.
    Result values are oracle-identical either way — the filter is
    purely a volume optimization.
    """
    configure(spark)
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        o = load(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf, "lineitem")
        out = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        # materialize the physical plan NOW, while the scoped confs are
        # active (Spark plans lazily at action time; the QueryExecution
        # is cached on the DataFrame afterwards)
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
