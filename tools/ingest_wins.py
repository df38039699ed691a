"""Fresh-vs-primed economics for the ingest contract, in one sweep.

For every artifact-consuming query: min-of-reps FRESH (before any
materializer runs in this session), then ``ingest(spark, sf)`` (build
walls recorded per artifact), then min-of-reps PRIMED. One process,
one snapshot — the numbers the SCALING.md ingest table cites.

Usage: python tools/ingest_wins.py docs/INGEST_WINS_r14.json sf10=/dev/shm/prs_sf10
Env: SPARK_GRAFT_AB_REPS (default 2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: artifact -> the registered queries that consult it
CONSUMERS = {
    "doc_tokens": ["q_text_tfidf", "q_text_chi2", "q_pipeline_dsir"],
    "token_index": ["q_text_bm25", "q_search_hybrid_rrf"],
    "bpe_merges": ["q_text_bpe_apply"],
    "docq": ["q_pipeline_curriculum"],
    "lsh_signatures": ["q_similarity_ann_lsh"],
    "ivf_index": ["q_similarity_ivf"],
    "pq_index": ["q_similarity_pq_adc"],
    "srp_codes": ["q_similarity_srp"],
    "knn_graph": ["q_similarity_knn_graph"],
    "minhash": ["q_dedup_minhash"],
    "graph": ["q_graph_pagerank"],
    # the registered weighted-median-approx is the verdict-grid
    # harness (exact window-sort recount); the artifact's consumer is
    # the production sketch pass — same override the bench applies
    "wm_stats": ["weighted_median_sketch"],
}


def main():
    out_path = sys.argv[1]
    sf_dirs = dict(a.split("=", 1) for a in sys.argv[2:])
    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))

    from pandas_reporter_spark.ingest import ingest
    from pandas_reporter_spark.operators.relational import (
        weighted_median_sketch,
    )
    from pandas_reporter_spark.registry import QUERIES, load_all
    from pandas_reporter_spark.session import get_session

    load_all()
    runners = {**QUERIES, "weighted_median_sketch": weighted_median_sketch}
    spark = get_session("ingest_wins")

    def t_best(name, sf_dir):
        def run():
            runners[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        run()
        best = 9e9
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        return round(best, 3)

    res = {"reps": reps, "grid": {}}
    for label, sf_dir in sf_dirs.items():
        names = sorted({q for qs in CONSUMERS.values() for q in qs})
        fresh = {n: t_best(n, sf_dir) for n in names}
        build = ingest(spark, sf_dir)
        primed = {n: t_best(n, sf_dir) for n in names}
        res["grid"][label] = {
            "build": build,
            "queries": {
                n: {
                    "fresh": fresh[n],
                    "primed": primed[n],
                    "win": round(fresh[n] / max(primed[n], 1e-9), 2),
                }
                for n in names
            },
        }
        for n in names:
            print(label, n, json.dumps(res["grid"][label]["queries"][n]),
                  flush=True)

    with open(out_path, "w") as f:
        json.dump(res, f, indent=2)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
