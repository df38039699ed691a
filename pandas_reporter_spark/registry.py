"""Query registry: the driver-verified operator inventory (SURVEY §2).

Each operator from SURVEY.md §2 registers a `(spark, sf_dir) -> DataFrame`
callable and, when SQL-expressible, the equivalent DuckDB oracle SQL.
`__spark_entry__.py` re-exports QUERIES/ORACLES verbatim.

Naming discipline (driver hashes values under sorted column names):
alias every computed column identically in the Spark plan and the SQL.

Float discipline: the driver compares order-insensitive value hashes, so
double aggregates must be bit-identical between Spark and DuckDB. Sums
of doubles are accumulation-order dependent; both engines therefore sum
exact integer units (round(x·10^s) as BIGINT — see tables.dsum) and
divide back once.

round() trap (found at sf0.1, round 8): Spark's round(double, s) goes
through BigDecimal.valueOf — the double's SHORTEST decimal string —
so a value whose shortest repr terminates in a 5 exactly at position
s+1 ("39.88175" → .8818 half-up) diverges from DuckDB's numeric
rounding of the binary value (39.88174999… → .8817). Only values that
are near-exact short decimals (cents-derived means, prices) can hit
it; p/q ratios with non-10-smooth q cannot tie. Where a rounded value
derives from decimal-quantized inputs, use floor(x·10^s + 0.5)/10^s
with the identical shape in the oracle (q_fillna_group is the
exemplar) instead of round().
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-verified query; `oracle=None` -> rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Operator modules whose import registers their queries. Every name
#: listed here MUST exist — a missing module is a hard error (round 1
#: died on phantom imports; never again).
_OPERATOR_MODULES = (
    "pandas_reporter_spark.operators.census_queries",
    "pandas_reporter_spark.operators.relational",
    "pandas_reporter_spark.operators.dedup",
    "pandas_reporter_spark.operators.text",
    "pandas_reporter_spark.operators.similarity",
    "pandas_reporter_spark.operators.events",
    "pandas_reporter_spark.operators.multimodal",
    "pandas_reporter_spark.operators.scale",
    "pandas_reporter_spark.operators.sketch",
    "pandas_reporter_spark.operators.graph",
    "pandas_reporter_spark.sources.queries",
)

#: Registration order the driver sees. The driver's correctness gate
#: records a FIXED-SIZE PREFIX of queries() in registration order
#: (round 2 recorded exactly the first 50 and stopped), so the prefix
#: must spend its budget on COVERAGE: one official row per operator
#: family — census MOE algebra, every dedup/text/similarity/events/
#: multimodal family, the scale techniques, the source/sink adapters —
#: with a few relational representatives; the relational long tail
#: (all green in round 2) re-registers after the fold.
_PRIORITY = (
    # ---- ARTIFACT-LIFECYCLE ROTATION. Built from tools/staleness.py
    # with the r16 vintage (561822a) added; at that commit the audit
    # reported 0 stale. Moving every sidecar onto one artifact
    # lifecycle (pandas_reporter_spark/artifacts.py) rewrote the
    # artifact lookup in each consumer's closure and the handle
    # retirement in four more. Slot budget (50):
    # (1) the 36 queries whose closure changed, grouped by artifact;
    # (2) the rest burns the oldest vintages: all eight r11 records,
    #     then the r12 cohort alphabetically.
    # Concurrent ingest then re-laid out two artifacts (token_index
    # postings, ivf_index by_cell: session-width fan-out) and composed
    # the minhash bucket cap with the size-ratio prefilter; every
    # consumer of those is already in (1), so the audit still reports
    # exactly these 36 stale and the rotation is unchanged.
    # The replicate MOE then became one SQL expression: q_varrep_moe's
    # body changed (stale, 37th) and q_varrep_source reaches the same
    # formula through varrep_frame (outside the module-local audit);
    # both take the last two (2) slots.
    # Driver-built frames then became one Arrow local relation
    # (tables.local_frame): four more bodies changed (stale: eval_ndcg,
    # bpe_train, overlap_matrix, vocab_coverage; curriculum and pq_adc
    # are already in (1)), and q_source_cr_pivot / q_census_workflow
    # reach the new path through sources.crjson.cr_frame (outside the
    # module-local audit). The six take the last six (2) slots.
    # The relayout copies then moved onto the artifact lifecycle, and
    # both stream readers take their files from tables.stream_source:
    # nine stream closures changed (stale, 42nd-50th; q_stream_file_sink
    # is already in (1)). They take the nine slots that held unflagged
    # queries: q_varrep_source, q_source_cr_pivot, q_census_workflow
    # and all six (2) entries, so the prefix is exactly the 50 stale.
    # (1) doc_tokens
    "q_pipeline_dsir",
    "q_sketch_cms",
    "q_sketch_heavy_hitters",
    "q_text_kl_divergence",
    "q_text_langid",
    "q_text_logprob",
    "q_text_perplexity_bigram",
    "q_text_quality_classifier",
    "q_text_tfidf",
    "q_text_tokens",
    # (1) token_index
    "q_search_hybrid_rrf",
    "q_text_bm25",
    # (1) bpe_merges / docq
    "q_text_bpe_apply",
    "q_pipeline_curriculum",
    # (1) lsh_signatures
    "q_dedup_embedding",
    "q_similarity_ann_lsh",
    "q_similarity_join",
    "q_similarity_join_shuffled",
    # (1) ivf_index / pq_index / srp_codes
    "q_similarity_ivf",
    "q_similarity_pq_adc",
    "q_similarity_srp",
    # (1) knn_graph
    "q_dedup_semdedup",
    "q_similarity_knn_graph",
    # (1) minhash
    "q_dedup_containment",
    "q_dedup_minhash",
    "q_dedup_minhash_capped",
    "q_dedup_minhash_incremental",
    "q_sketch_bloom",
    # (1) graph
    "q_graph_pagerank",
    "q_graph_triangles",
    # (1) wm_stats
    "q_agg_weighted_median",
    "q_agg_weighted_median_approx",
    # (1) per-query handles only (artifacts.hold)
    "q_dedup_substring",
    "q_dedup_substring_removal",
    "q_pipeline_dsir_bigram",
    "q_stream_file_sink",
    # (1) replicate MOE as one SQL expression
    "q_varrep_moe",
    # (1) driver-built frames as one Arrow local relation
    "q_search_eval_ndcg",
    "q_text_bpe_train",
    "q_text_overlap_matrix",
    "q_text_vocab_coverage",
    # (1) stream sources: relayout copies via tables.stream_source
    "q_events_late",
    "q_events_stateful",
    "q_events_stream_dedup",
    "q_events_stream_session",
    "q_stream_enrich",
    "q_stream_stream_join",
    "q_stream_topk",
    "q_stream_quality_gate",
    "q_stream_sample_weighted",
)

# Earlier rotations (r2-r6) and their slot-by-slot rationale live in
# git history (this file, commits tagged 'rotation'); each round's
# prefix is also reconstructable from CORRECTNESS_r{N}.json key order.



def load_all() -> None:
    """Import every operator module so decorators run, then order the
    registry so `_PRIORITY` is the prefix the driver records (idempotent)."""
    import importlib

    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)

    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:  # a typo here would silently waste the correctness window
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    ordered = list(_PRIORITY) + [n for n in QUERIES if n not in set(_PRIORITY)]
    for d in (QUERIES, ORACLES):
        tail = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(tail)
