"""Unified ANN grid (VERDICT r10 item 3): LSH / IVF / PQ-ADC on ONE
corpus, per SF — recall@10 against the exact brute-force cosine
baseline (q_similarity_topk), end-to-end seconds per method, and the
PQ encode stage's standalone throughput (rows/s over the n·M
subvector frame, the only n-proportional PQ stage).

Recall here is single-query (the registered shapes score the fixed
query vec_id=0) — a smoke-level fidelity number; the per-method
planted-neighbor recall pins live in tests/test_similarity.py.

Because the synthetic corpus is near-isotropic (cosine margins between
rank 10 and rank 1000 are within noise of each other), strict
recall@10 under-reads every quantizer; the robust companion metric is
median_exact_rank_pctile — the median EXACT-cosine rank percentile of
the method's returned top-10 (0 = the method returns true nearest
vectors, 0.5 = indistinguishable from random). Same measure as the
PQ fidelity pin in tests/test_similarity.py.

Usage: python tools/ann_recall_grid.py out.json label=dir [...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    out_path = sys.argv[1]
    sf_dirs = dict(a.split("=", 1) for a in sys.argv[2:])
    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))

    from pandas_reporter_spark.operators import similarity as S
    from pandas_reporter_spark.registry import QUERIES, load_all
    from pandas_reporter_spark.session import get_session

    load_all()
    spark = get_session("ann_recall_grid")

    METHODS = [
        "q_similarity_topk",  # exact baseline
        "q_similarity_ann_lsh",
        "q_similarity_ivf",
        "q_similarity_pq_adc",
        # binary tiers (r14, VERDICT r13 item 8): 64-bit raw sign
        # codes (near-dup regime) and the 256-bit SRP at-rest tier
        # (moderate-similarity regime) — docs/HAMMING_AB_r13.json
        "q_similarity_hamming",
        "q_similarity_srp",
    ]

    def t_best(fn):
        fn().write.format("noop").mode("overwrite").save()
        best = 9e9
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    res = {"reps": reps, "sf_dirs": sf_dirs, "grid": {}}
    for label, sf_dir in sf_dirs.items():
        row = {}
        tops = {}
        for name in METHODS:
            fn = lambda name=name: QUERIES[name](spark, sf_dir)
            sec = t_best(fn)
            ids = [r[0] for r in fn().collect()]
            tops[name] = set(ids[:10])
            row[name] = {"sec": round(sec, 3), "top10": sorted(ids[:10])}
        exact = tops["q_similarity_topk"]
        # exact-cosine rank percentile of each method's returned ids:
        # one scored scan per SF, then one conditional-count agg per
        # method (corpus passes, not collects — works at any SF)
        import pyspark.sql.functions as F

        from pandas_reporter_spark.operators.similarity import cosine
        from pandas_reporter_spark.tables import load as _load

        e = _load(spark, sf_dir, "embeddings")
        n_corpus = e.count() - 1
        q = e.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv")
        )
        scored = (
            e.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                cosine(F.col("embedding"), F.col("qv")).alias("c"),
            )
            .persist()
        )
        for name in METHODS[1:]:
            ids = sorted(tops[name])
            got = {
                r["vec_id"]: r["c"]
                for r in scored.filter(F.col("vec_id").isin(ids)).collect()
            }
            counts = scored.agg(
                *[
                    F.sum(
                        F.when(
                            (F.col("c") > got[i])
                            | ((F.col("c") == got[i]) & (F.col("vec_id") < i)),
                            1,
                        ).otherwise(0)
                    ).alias(f"r{i}")
                    for i in ids
                    if i in got
                ]
            ).collect()[0]
            pct = sorted(v / n_corpus for v in counts)
            med = pct[len(pct) // 2] if pct else None
            row[name]["recall_at_10"] = round(
                len(tops[name] & exact) / max(1, len(exact)), 2
            )
            row[name]["median_exact_rank_pctile"] = (
                round(med, 4) if med is not None else None
            )
        scored.unpersist()
        # PQ encode throughput, isolated: train once, then time ONLY
        # the kernel pass over the full n*M subvector frame
        sub, k_cells, train_n = S._pq_sub(spark, sf_dir)
        sub = sub.persist()
        n_sub = sub.count()
        cents = S._pq_train(spark, sub, k_cells, train_n).persist()
        cents.count()
        enc = lambda: S._pq_encode(spark, sub, cents)
        sec = t_best(enc)
        sub.unpersist()
        cents.unpersist()
        row["pq_encode"] = {
            "rows": n_sub,
            "sec": round(sec, 3),
            "rows_per_s": int(n_sub / sec),
            "k_cells": k_cells,
            "train_n": train_n,
        }
        res["grid"][label] = row
        print(label, json.dumps(row), flush=True)
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
