"""Graph operators: iterative dataflow on Spark without driver loops.

The LLM-pipeline use case: rank tokens/pages/domains by link structure
(TextRank keyword extraction, domain-authority weighting for crawl
curation). The operator here is PageRank over the token BIGRAM graph —
nodes are vocabulary tokens, edges are bigram counts — which keeps the
graph dictionary-sized: at 100 TB the edge list is a groupBy of the
token stream (map-side combined, shuffle carries the bigram DICTIONARY,
not the corpus) and each iteration is one dictionary-sized join +
aggregate. No driver `.collect()` anywhere: the fixed iteration count
unrolls into one lazy plan.

Float discipline: ranks are exact BIGINT micro-units and every update
is integer multiply/divide (`div`), so iteration results are
partition-count independent AND engine-portable — the DuckDB oracle
unrolls the same five iterations as chained CTEs and must match
hash-for-hash. (Classic float PageRank would accumulate
order-dependent sums; the integer form is the same discipline as
tables.dsum.)

Reference parity: none (driver-mandated extension surface; the
algorithm is public — Page et al. 1999, Mihalcea & Tarau 2004
TextRank).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure, work_partitions
from pandas_reporter_spark.tables import load

#: damping 0.85 as the integer pair 85/100; rank unit = 1e6.
_D_NUM, _D_DEN = 85, 100
_R0, _BASE = 1_000_000, 150_000
_ITERS = 5


def _pagerank_oracle(iters: int = _ITERS) -> str:
    """Unrolled-iteration twin of q_graph_pagerank. Chained CTEs rather
    than WITH RECURSIVE: the iteration count is a fixed constant, and
    unrolling keeps the SQL within the subset every engine runs
    identically (no recursive-aggregate dialect risk). SUMs are cast
    back to BIGINT so DuckDB's HUGEINT never reaches the driver."""
    its = []
    for k in range(1, iters + 1):
        its.append(f"""
    it{k} AS (
      SELECT n.token, CAST({_BASE} AS BIGINT) + COALESCE(c.s, 0) AS r
      FROM nodes n LEFT JOIN (
        SELECT ej.b AS token,
               CAST(SUM((CAST({_D_NUM} AS HUGEINT) * p.r * ej.w)
                        // (CAST({_D_DEN} AS HUGEINT) * ej.wtot))
                    AS BIGINT) AS s
        FROM it{k - 1} p JOIN ej ON ej.a = p.token
        GROUP BY ej.b
      ) c USING (token)
    )""")
    return f"""
    WITH pairs AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents),
           unnest(range(1, len(toks))) AS u(i)
    ),
    edges AS (
      SELECT a, b, COUNT(*) AS w
      FROM pairs WHERE a <> '' AND b <> ''
      GROUP BY a, b
    ),
    ws AS (SELECT a, CAST(SUM(w) AS BIGINT) AS wtot FROM edges GROUP BY a),
    ej AS (SELECT e.a, e.b, e.w, s.wtot FROM edges e JOIN ws s USING (a)),
    nodes AS (
      SELECT a AS token FROM edges UNION SELECT b FROM edges
    ),
    it0 AS (SELECT token, CAST({_R0} AS BIGINT) AS r FROM nodes),
    {', '.join(its)}
    SELECT token, r FROM it{iters}
    ORDER BY r DESC, token
    LIMIT 20
    """


def _build_graph(spark, sf, path):
    """The bigram edge dictionary (a, b, w, wtot) under `ej` and the
    node set under `nodes` — a pipeline builds the graph once and
    every traversal starts from it, reading plain parquet instead of
    re-tokenizing and re-aggregating the corpus."""
    ej, nodes = _edges_nodes(spark, sf)
    ej.repartition(work_partitions(spark)).write.mode("overwrite").parquet(
        os.path.join(path, "ej")
    )
    nodes.repartition(work_partitions(spark)).write.mode("overwrite").parquet(
        os.path.join(path, "nodes")
    )


def _open_graph(spark, sf, path):
    return _copartition(*artifacts.parts("ej", "nodes")(spark, sf, path))


artifacts.declare("graph", "documents", "graph", _build_graph, _open_graph)


#: Partition count for the dictionary-sized graph relations. Small on
#: purpose: every iteration stage is dictionary-sized, and wide
#: stages are pure scheduling overhead at bench scale (sf0.1 sweep,
#: min-of-8: 32 parts 1.6s, 8 parts 0.65s, 2 parts 0.53s; kept >1 so
#: the co-partitioned distributed path is what's exercised). At
#: 100 TB the edge dictionary is orders larger and this becomes a
#: per-deploy knob, but the CO-partitioning contract stays the same.
_GRAPH_PARTS = 2


def _copartition(ej, nodes):
    """Hash-partition the graph relations on their JOIN keys, once.

    This is what makes each PageRank iteration a ONE-exchange stage
    (r7 rework, was three): ranks chain out of each iteration hash-
    partitioned on `token`, which satisfies the rank⋈edges join
    (token = a) against the pre-partitioned edge side AND the
    teleport-base left join against the pre-partitioned node side —
    so the only exchange per iteration is the contribution groupBy
    re-keying source→dest. Exchange reuse by construction, no AQE
    needed. Measured sf0.1 (min-of-8, local[32]): 1.63s → 0.53s
    together with the SHUFFLE_HASH iteration join below.
    """
    return (
        ej.repartition(_GRAPH_PARTS, "a").persist(),
        nodes.repartition(_GRAPH_PARTS, "token").persist(),
    )


def _edges_nodes(spark, sf):
    """(edge+outdegree, nodes) relations from the document bigrams."""
    d = load(spark, sf, "documents")
    # single-token / empty docs first: F.sequence(1, size-1) with
    # size=1 yields the DESCENDING [1, 0] and element_at(toks, 0)
    # throws INVALID_INDEX_OF_ZERO. The filter matches the oracle's
    # range(1, len(toks)), which is simply empty for those docs (same
    # guard discipline as dedup.with_hashed_shingles).
    toked = d.select(
        F.split(F.lower(F.col("text")), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    pairs = toked.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("a"),
                    F.element_at(toks, i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = (
        pairs.filter((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ws = edges.groupBy("a").agg(F.sum("w").alias("wtot"))
    ej = edges.join(ws, "a")
    nodes = (
        ej.select(F.col("a").alias("token"))
        .union(ej.select(F.col("b").alias("token")))
        .distinct()
    )
    return ej, nodes


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, sf):
    """TextRank: 5 exact PageRank iterations over the bigram graph,
    top-20 tokens.

    Shape per iteration: ranks ⋈ edges on the source token (both sides
    dictionary-sized, co-partitioned on the same key every round) →
    contribution = (85·r·w) div (100·W_out) in exact integer units →
    groupBy(dest).sum, with the 0.15 teleport base folded into the
    contribution expression so the node set joins once at the END,
    not once per iteration (r7 rework — see the inline comment; each
    iteration is ONE exchange). Five iterations compose into ONE lazy
    plan — no per-iteration action, no driver-side state; the
    edge+outdegree artifact is persisted and co-partitioned once and
    reused by every iteration (at 100 TB: a checkpointed ingest
    artifact, exactly like the shared tokenize relation). Mass lost
    to integer floors and dangling tokens is deliberate: determinism
    across engines and partition counts is the contract here,
    normalization is a presentation concern.
    """
    configure(spark)
    art = artifacts.get(spark, sf, "graph")
    if art is not None:
        ej, nodes = art  # co-partitioned scans of the graph artifact
    else:
        ej, nodes = _copartition(*_edges_nodes(spark, sf))
    # Iterate on the CONTRIBUTION vector s (tokens with ≥1 in-edge),
    # not the full rank vector: r_k[t] = BASE + s_k[t] with s_k
    # missing ⇒ 0, so the per-iteration "join ranks back onto the
    # node set" disappears algebraically — the teleport base folds
    # into the contribution expression and the node set is joined
    # exactly ONCE, after the last iteration. Per iteration the plan
    # is: ej ⟕ s_k on the source token (both sides already hash-
    # partitioned at _GRAPH_PARTS — zero exchange) → integer
    # contribution → re-key source→dest (the iteration's ONE
    # exchange) → sum. The 85·r·w product runs in DECIMAL(38,0):
    # bare int64 would silently wrap past 2^63 on large corpora
    # (rank mass grows with node count) exactly where the DuckDB
    # oracle's HUGEINT product stays exact; IntegralDivide on
    # decimals returns BIGINT, so the per-edge contribution (≤
    # 0.85·r) lands back in long range.
    #
    # Join strategy: the ej side reuses ONE broadcast/exchange across
    # all five iterations (ReusedExchange in the plan); per-iteration
    # broadcasts of the CHANGING s_k side were A/B-measured slower
    # (3.7s vs 1.2s, r6) — five fresh broadcast builds cost more than
    # five dictionary-sized shuffles. At 100 TB a 1e8-row edge
    # dictionary outgrows broadcast anyway and the same co-partitioned
    # shuffle plan stands.
    def _contrib(rank_expr):
        return F.expr(
            f"(cast({_D_NUM} as decimal(38,0)) * ({rank_expr}) * w)"
            f" div (cast({_D_DEN} as decimal(38,0)) * wtot)"
        ).alias("c")

    s = (
        ej.select(F.col("b").alias("token"), _contrib(str(_R0)))
        .repartition(_GRAPH_PARTS, "token")
        .groupBy("token")
        .agg(F.sum("c").alias("s"))
    )
    for _ in range(_ITERS - 1):
        s = (
            # SHUFFLE_HASH on the s side: without it the planner picks
            # sort-merge (no stats on the agg output) and re-SORTS the
            # edge relation every iteration; shuffled-hash builds the
            # small changing side and STREAMS the co-partitioned edges
            # — no sort, no per-iteration broadcast build.
            ej.join(s.hint("shuffle_hash"), ej.a == s.token, "left")
            .select(
                F.col("b").alias("token"),
                _contrib(f"{_BASE} + coalesce(s, cast(0 as bigint))"),
            )
            .repartition(_GRAPH_PARTS, "token")
            .groupBy("token")
            .agg(F.sum("c").alias("s"))
        )
    ranks = nodes.join(s, "token", "left").select(
        "token",
        (
            F.lit(_BASE).cast("bigint")
            + F.coalesce(F.col("s"), F.lit(0).cast("bigint"))
        ).alias("r"),
    )
    return ranks.orderBy(F.col("r").desc(), "token").limit(20)


def _triangles_oracle() -> str:
    """SQL twin of q_graph_triangles: identical bigram edge derivation
    (shared with the pagerank oracle), then the same degree-ordered
    orientation and wedge-close joins. Tuple comparisons are spelled
    as explicit boolean chains — row-value ordering is a dialect
    corner neither engine needs to agree on."""
    return """
    WITH pairs AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents),
           unnest(range(1, len(toks))) AS u(i)
    ),
    und AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM pairs WHERE a <> '' AND b <> '' AND a <> b
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN lt THEN u ELSE v END AS src,
             CASE WHEN lt THEN v ELSE u END AS dst,
             CASE WHEN lt THEN dv ELSE du END AS dd
      FROM (
        SELECT e.u, e.v, du.d AS du, dv.d AS dv,
               (du.d < dv.d OR (du.d = dv.d AND e.u < e.v)) AS lt
        FROM und e
        JOIN deg du ON du.n = e.u
        JOIN deg dv ON dv.n = e.v
      )
    ),
    tri AS (
      SELECT a.src AS tu, a.dst AS tv, b.dst AS tw
      FROM o a
      JOIN o b ON a.src = b.src
             AND (a.dd < b.dd OR (a.dd = b.dd AND a.dst < b.dst))
      JOIN o c ON c.src = a.dst AND c.dst = b.dst
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([tu, tv, tw]) AS node FROM tri)
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """


@query("q_graph_triangles", oracle=_triangles_oracle())
def q_graph_triangles(spark, sf):
    """Per-node triangle counts over the bigram graph, top-20 — the
    standard clustering-coefficient / community-density primitive for
    crawl-graph curation.

    Algorithm: degree-ordered orientation (Schank & Wagner 2005 /
    Chiba-Nishizeki "forward"): orient each undirected edge from its
    (degree, name)-smaller endpoint to its larger one, enumerate
    wedges at the smallest vertex of each triangle (join the oriented
    edge list with itself on src, keeping only (d,name)-ordered
    neighbor pairs), and close each wedge with a semi-probe into the
    same oriented edge list. Each triangle is found exactly once, at
    its orientation-minimal vertex, then credited to all three
    corners via one explode + groupBy.

    Scale shape: orientation caps every out-adjacency at O(sqrt(m))
    regardless of raw degree skew — a celebrity token with 10^6
    neighbors contributes wedges only through its few higher-degree
    peers, so the wedge self-join (the one super-linear stage) is
    sum(outdeg^2) bounded, the known optimum for exact listing. All
    three joins are equi-joins on token keys, hash-partitioned at the
    dictionary-sized graph width; nothing touches the corpus after
    the shared bigram-edge artifact is built (same ingest artifact
    q_graph_pagerank reuses). The DuckDB oracle replays the identical
    orientation, so the join ORDER is free to differ per engine while
    the triangle SET cannot.

    Reference parity: none (driver-mandated graph extension).
    """
    configure(spark)
    art = artifacts.get(spark, sf, "graph")
    if art is not None:
        ej, _ = art
    else:
        ej, _ = _edges_nodes(spark, sf)
    und = (
        ej.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    per_node = triangle_counts(spark, und)
    return per_node.orderBy(F.col("n_triangles").desc(), "node").limit(20)


def triangle_counts(spark, und):
    """Per-node triangle counts for a DISTINCT undirected edge list
    (u, v) with u < v, u != v — the reusable core of
    q_graph_triangles (see its docstring for the algorithm and scale
    rationale). Returns (node, n_triangles), unordered; property-swept
    against an itertools brute-force oracle on random graphs in
    tests/test_graph.py."""
    deg = (
        und.select(F.col("u").alias("n"))
        .union(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    lt = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(du, F.col("u") == F.col("du.n"))
        .join(dv, F.col("v") == F.col("dv.n"))
        .select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lt, F.col("dv.d")).otherwise(F.col("du.d")).alias("dd"),
        )
        .repartition(work_partitions(spark), "src")
        .persist()
    )
    a, b, c = o.alias("a"), o.alias("b"), o.alias("c")
    wedge_ord = (F.col("a.dd") < F.col("b.dd")) | (
        (F.col("a.dd") == F.col("b.dd")) & (F.col("a.dst") < F.col("b.dst"))
    )
    tri = (
        a.join(b, (F.col("a.src") == F.col("b.src")) & wedge_ord)
        .join(
            c,
            (F.col("c.src") == F.col("a.dst"))
            & (F.col("c.dst") == F.col("b.dst")),
            "left_semi",
        )
        .select(
            F.col("a.src").alias("tu"),
            F.col("a.dst").alias("tv"),
            F.col("b.dst").alias("tw"),
        )
    )
    return (
        tri.select(
            F.explode(F.array("tu", "tv", "tw")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_total_lex(spark, und):
    """Total triangle count by an INDEPENDENT enumeration path:
    lexicographic orientation (src = name-smaller endpoint — the input
    already has u < v, so the edge list IS the orientation) with
    name-ordered wedges, no degree computation at all.

    Exists for the sf100 self-consistency check (VERDICT r10 item 6):
    the DuckDB oracle cannot run at sf100 (single-process OOM on the
    267 M-row unnest), so the Spark result is checked against a second
    Spark plan that shares no orientation logic with
    ``triangle_counts`` — 3 * this total must equal the sum of the
    per-node counts, and the per-node output must be invariant to
    shuffle width. Unlike the degree-ordered path this one is NOT
    skew-bounded (a celebrity node's out-adjacency is its full
    name-larger neighborhood), so it is a verification tool, not the
    production operator.
    """
    a, b, c = und.alias("a"), und.alias("b"), und.alias("c")
    tri = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")),
        )
        .join(
            c,
            (F.col("c.u") == F.col("a.v"))
            & (F.col("c.v") == F.col("b.v")),
            "left_semi",
        )
    )
    return tri.count()
