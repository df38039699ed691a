"""The single at-rest ingest contract.

``ingest(spark, sf)`` is the one entry point a driver, bench harness or
cluster operator calls after a snapshot lands: it builds every sidecar
artifact in ``MATERIALIZERS`` through the one lifecycle in
``pandas_reporter_spark.artifacts`` (fingerprinted tmpfs path, atomic
commit, validate before register), idempotently, and reports what it
built. Consumers keep their self-derive fallbacks: a failed or
rejected artifact costs only the primed speed, never correctness.

The builds run side by side, one thread each on a pool as wide as the
session's ``defaultParallelism``, so Spark's scheduler fills the slots
one build's small jobs leave idle with another build's tasks. The only
ordering is an artifact's declared ``after``: ``vocab_stats`` starts
once ``doc_tokens`` is registered (or has failed), because it derives
from it when primed. No build changes a session conf, which is what
makes running them together safe (pinned in tests/test_ingest.py).

The report is ``{name: {ok, primed, seconds, reason}}`` in
``MATERIALIZERS`` order. ``ok`` is False when a build or read step
raised; ``primed`` is True when the consumers will read the artifact;
``reason`` is None when primed, else the exception (type and first
message line) or the validation that rejected the artifact. Builds
overlap, so the per-artifact ``seconds`` can sum to more than the
call's wall time.

On a 100 TB deployment this is the post-snapshot ingest job: one pass
after the corpus lands, before query traffic; the per-artifact cost
and payoff table lives in SCALING.md ("The at-rest ingest contract").
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from pandas_reporter_spark import artifacts

#: Every declared artifact, in report order, with its consumer queries.
MATERIALIZERS: tuple[str, ...] = (
    # q_text_tokens tfidf langid logprob kl_divergence quality_classifier
    # perplexity_bigram, q_pipeline_dsir, q_sketch_cms heavy_hitters
    "doc_tokens",
    # q_text_bm25 q_search_hybrid_rrf: partition-pruned posting probe
    "token_index",
    # q_text_bpe_apply: trained tokenizer
    "bpe_merges",
    # q_pipeline_curriculum: per-doc classifier score sidecar
    "docq",
    # q_similarity_ann_lsh join join_shuffled, q_dedup_embedding
    "lsh_signatures",
    # q_similarity_ivf: cell-partition-pruned probe
    "ivf_index",
    # q_similarity_pq_adc: ~25 B/vec codes vs ~263 B/vec raw
    "pq_index",
    # q_similarity_srp: 32 B/vec sign codes
    "srp_codes",
    # q_similarity_knn_graph q_dedup_semdedup: top-k in-cell rows
    "knn_graph",
    # q_dedup_minhash minhash_capped minhash_incremental containment,
    # q_sketch_bloom
    "minhash",
    # q_graph_pagerank q_graph_triangles: bigram edge/node relation
    "graph",
    # q_agg_weighted_median(_approx): ANALYZE-style range stats
    "wm_stats",
    # q_text_perplexity_bigram: corpus vocab size (declared after
    # doc_tokens, which it derives from when primed)
    "vocab_stats",
)


def ingest(spark: SparkSession, sf: str) -> dict[str, dict]:
    """Build every artifact for snapshot `sf` (idempotent) and return
    {name: {ok, primed, seconds, reason}}."""
    from pandas_reporter_spark.registry import load_all

    load_all()  # operator-module import runs every declare()

    def build(deps, name):
        wait(deps)
        return artifacts.build(spark, sf, name)

    futures = {}
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:

        # an artifact is queued after its `after` artifacts, so a build
        # that waits on them waits only on builds already running
        # (the queue is FIFO) and the pool cannot deadlock
        def submit(name):
            if name not in futures:
                deps = [submit(d) for d in artifacts.DECLARED[name].after]
                # wrapped per build: each gets its own copy of the
                # caller's local properties (job group, pool, tags)
                task = inheritable_thread_target(spark)(build)
                futures[name] = pool.submit(task, deps, name)
            return futures[name]

        for name in MATERIALIZERS:
            submit(name)
    return {name: futures[name].result() for name in MATERIALIZERS}
