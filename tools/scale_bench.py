"""Marginal-cost measurement: Spark vs DuckDB across a 10× SF step.

Runs the heavy BATCH queries at sf0.1 (driver snapshot) and sf1
(tools/make_sfn.py synthesis) on both engines and reports, per query
and in total: t(sf0.1), t(sf1), and the MARGINAL cost of the extra
data Δ = t(sf1) − t(sf0.1) — the component that actually scales to
the 100 TB design point (the residual is per-job fixed floor;
SCALING.md). Methodology mirrors BASELINE.md: DuckDB runs the
registered oracle SQL at max threads, Spark runs the registered plan
to a noop sink; min-of-3 after one warm pass, no artifact priming on
either side (both engines compute from raw parquet). Queries that
.persist() corpus-derived intermediates inside their own plan
(pagerank's edge dictionary, heavy-hitters' token dictionary) would
otherwise serve those from cache across the timed reps while DuckDB
recomputes — so the Spark cache is CLEARED before every timed rep:
each timed run pays its full dictionary build, same as DuckDB.

The near-dup family (minhash/spans/similarity-join) is measurable
since the v2 synthesis: make_sfn perturbs document copies (15% token
dropout, 20% verbatim) so candidate sets scale ~linearly instead of
K². q_dedup_minhash runs SPARK-ONLY at the high SF: its DuckDB oracle
evaluates the 64 minhash mixes through DuckDB's list-lambda
interpreter (~50× the Arrow kernel at sf0.1 — BASELINE analysis), so
timing it at sf1 would measure DuckDB's HOF interpreter, not the
operator; the Spark marginal is the datapoint the 100 TB argument
needs.

Usage: python tools/scale_bench.py [out.json] [label=dir ...]
(default SF pair: sf0.1=/root/testdata/sf0.1 sf1=/dev/shm/prs_sf1;
marginal is computed between the FIRST and LAST label given)

Env knobs (each recorded in the output JSON so the methodology of a
grid is explicit): SPARK_GRAFT_SCALE_QUERIES=comma,subset of
SCALE_QUERIES; SPARK_GRAFT_SCALE_REPS / SPARK_GRAFT_SCALE_DUCK_REPS
override the min-of-3 rep count — the top decade (sf10 = 100x
sf0.1) needs duck_reps=1 because DuckDB's text oracles run minutes
there.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SCALE_QUERIES = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q9",
    "q_tpch_q18",
    "q_graph_pagerank",
    "q_pipeline_curate",
    "q_pipeline_pretrain",
    "q_text_kl_divergence",
    "q_text_langid",
    "q_embed_centroids",
    "q_dedup_embedding",
    "q_sketch_heavy_hitters",
    "q_similarity_topk",
    # near-dup family, measurable since the v2 perturbed synthesis
    "q_dedup_minhash",
    "q_dedup_spans",
    "q_similarity_join",
    # measurable since v3 (perturbed customer names; verbatim name
    # replication inflated distance-<=1 pairs ~100x before)
    "q_dedup_fuzzy",
    # late-r8 operators (KMV bottom-k, k-means codebook)
    "q_sketch_kmv",
    "q_embed_kmeans",
    # the production hot-bucket guard across the decades
    "q_dedup_minhash_capped",
    # streaming family on the grid (VERDICT r8 item 3): per-rep the
    # full stream runs inside the query callable; state-store size and
    # per-batch addBatch latency come from events.LAST_PROGRESS and
    # ride along in the row as stream_* keys
    "q_events_stateful",
    "q_stream_enrich",
    "q_stream_stream_join",
    "q_events_stream_dedup",
    # round-10 operators
    "q_graph_triangles",
    "q_events_scd2",
    "q_agg_skew_kurt",
    "q_text_url_normalize",
    "q_similarity_pq_adc",
    "q_agg_entropy",
]

_STREAMING = {
    "q_events_stateful",
    "q_stream_enrich",
    "q_stream_stream_join",
    "q_events_stream_dedup",
    "q_stream_file_sink",
}


def _stream_metrics() -> dict:
    """Summarize the last stream run's progress: max state rows/bytes,
    per-batch addBatch, batch count."""
    from pandas_reporter_spark.operators import events as ev

    rows, mem, add = [], [], []
    for p in ev.LAST_PROGRESS:
        for op in p.get("stateOperators", []):
            if op.get("numRowsTotal") is not None:
                rows.append(op["numRowsTotal"])
            if op.get("memoryUsedBytes") is not None:
                mem.append(op["memoryUsedBytes"])
        d = p.get("durationMs", {})
        if "addBatch" in d:
            add.append(d["addBatch"])
    return {
        "stream_batches": len(ev.LAST_PROGRESS),
        "stream_max_state_rows": max(rows) if rows else None,
        "stream_max_state_bytes": max(mem) if mem else None,
        "stream_addbatch_ms": add or None,
    }

#: queries whose DuckDB oracle is interpreter-bound (list lambdas) at
#: the high SF — duck recorded at the low SF only
_SPARK_ONLY_HI = {"q_dedup_minhash"}
#: ...and whose oracle is quadratic at EVERY SF (O(n²) name self-join,
#: ~110 s at sf0.1) or the same list-lambda minhash interpreter as
#: q_dedup_minhash — duck skipped entirely
_SPARK_ONLY_ALL = {"q_dedup_fuzzy", "q_dedup_minhash_capped"}
#: ...and whose oracle exhausts host memory at the TOP label only:
#: the triangles oracle materializes the 267M-row bigram unnest plus
#: the wedge join inside one DuckDB query — 64 GB RSS and an
#: oom-kill at sf100 (observed round 10), while sf10 runs in 31 s.
_DUCK_OOM_TOP = {"q_graph_triangles"}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck_con(sf_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        glob = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
        )
    return con


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_bench.json"

    from pandas_reporter_spark.registry import ORACLES, QUERIES, load_all
    from pandas_reporter_spark.session import get_session

    # top-decade runs (sf10: 100x sf0.1) need a rep budget: DuckDB's
    # text oracles are minutes-per-run there, so min-of-3 would cost
    # an hour. The knobs are recorded in the output JSON so a grid's
    # methodology is always explicit.
    queries = SCALE_QUERIES
    subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if subset:
        want = [q.strip() for q in subset.split(",") if q.strip()]
        unknown = set(want) - set(SCALE_QUERIES)
        if unknown:
            raise SystemExit(f"not in SCALE_QUERIES: {sorted(unknown)}")
        queries = want
    spark_reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    duck_reps = int(os.environ.get("SPARK_GRAFT_SCALE_DUCK_REPS", "3"))

    load_all()
    spark = get_session("scale_bench")
    sf_dirs = {"sf0.1": "/root/testdata/sf0.1", "sf1": "/dev/shm/prs_sf1"}
    if len(sys.argv) > 2:
        sf_dirs = dict(a.split("=", 1) for a in sys.argv[2:])
    labels = list(sf_dirs)
    lo, hi = labels[0], labels[-1]

    def spark_run(name, sf_dir):
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    res: dict = {
        "queries": {},
        "sf_dirs": sf_dirs,
        "spark_reps": spark_reps,
        "duck_reps": duck_reps,
    }
    for name in queries:
        row = {}
        for label, sf_dir in sf_dirs.items():
            # spark: warm once, then min-of-N
            spark_run(name, sf_dir)
            best = 9e9
            for _ in range(spark_reps):
                # no cached intermediates survive into a timed rep:
                # self-persisting plans rebuild their dictionaries
                # every rep, exactly as DuckDB re-runs its full oracle
                spark.catalog.clearCache()
                t0 = time.time()
                spark_run(name, sf_dir)
                best = min(best, time.time() - t0)
            row[f"spark_{label}"] = round(best, 3)
            if name in _STREAMING:
                row[f"stream_{label}"] = _stream_metrics()
            if name in _SPARK_ONLY_ALL or (
                name in _SPARK_ONLY_HI and label != lo
            ) or (name in _DUCK_OOM_TOP and label == hi):
                row[f"duck_{label}"] = None
                continue
            # duckdb: fresh connection per sf, warm once, min-of-N
            con = _duck_con(sf_dir)
            sql = ORACLES[name]
            con.execute(sql).fetchall()
            bestd = 9e9
            for _ in range(duck_reps):
                t0 = time.time()
                con.execute(sql).fetchall()
                bestd = min(bestd, time.time() - t0)
            con.close()
            row[f"duck_{label}"] = round(bestd, 3)
        row["spark_marginal"] = round(
            row[f"spark_{hi}"] - row[f"spark_{lo}"], 3
        )
        row["duck_marginal"] = (
            None
            if row[f"duck_{hi}"] is None
            else round(row[f"duck_{hi}"] - row[f"duck_{lo}"], 3)
        )
        res["queries"][name] = row
        print(name, row, flush=True)

    # totals over the DUCK-COMPARABLE set only (spark-only rows keep
    # their per-query marginals but must not skew the engine ratio)
    comparable = {
        n: r
        for n, r in res["queries"].items()
        if r["duck_marginal"] is not None
    }
    tot = {
        k: round(sum(r[k] for r in comparable.values()), 3)
        for k in (
            *[f"{eng}_{lbl}" for eng in ("spark", "duck") for lbl in labels],
            "spark_marginal",
            "duck_marginal",
        )
    }
    tot["spark_only"] = sorted(set(res["queries"]) - set(comparable))
    # an all-spark-only subset has no comparable denominator
    tot["marginal_ratio"] = (
        round(tot["spark_marginal"] / tot["duck_marginal"], 3)
        if tot["duck_marginal"]
        else None
    )
    tot["total_ratio_hi"] = (
        round(tot[f"spark_{hi}"] / tot[f"duck_{hi}"], 3)
        if tot[f"duck_{hi}"]
        else None
    )
    res["totals"] = tot
    json.dump(res, open(out_path, "w"), indent=1)
    print(json.dumps(tot))


if __name__ == "__main__":
    main()
