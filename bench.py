"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...,
     "warm_companions": {"q_bpe_train_warm": sec, ...}}

``value`` sums ``queries`` only.

Headline set: one representative per operator family, weighted toward the
reference's core (WRO classify/remap/overlay) plus the heaviest relational
and LLM-pipeline shapes -- the queries whose plans matter at 100 TB.

Each row is the min over ``SPARK_GRAFT_BENCH_REPEATS`` (default 3) of
plan + execute + ``noop`` materialize, after one warm-up and with its
declared stream inputs staged outside the timer. Warm-up, sink,
staging, min-of-N and the ``q_join_inner`` host-drift sentinel come from
``harness.py``; which rows retrain every rep (``memo_cleared_rows``)
comes from their ``@query(trains=...)`` declaration.
"""

from __future__ import annotations

import json
import os
import re
import sys


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import harness
    from weighted_raster_overlay_service_toolbox_spark.queries.registry import (
        TRAINS,
    )
    from weighted_raster_overlay_service_toolbox_spark.session import get_spark

    spark = get_spark("wros-spark-bench")

    headline = [
        # reference core: classify -> remap -> overlay -> validate
        "q_wro_equal_interval",
        "q_wro_remap",
        "q_wro_overlay",
        "q_wro_nodata",
        "q_wro_stats",
        "q_wro_catalog_update",
        # relational heavy-hitters
        "q_agg_group",
        "q_agg_stats",
        "q_join_inner",
        "q_join_multikey",
        "q_join_range",
        "q_join_asof",
        "q_interval_join_binned",
        "q_win_rank",
        "q_win_frame_rows",
        "q_topk_per_group",
        # scale-pattern flagships (round-2 additions)
        "q_scd2",
        "q_hll_rollup",
        # literal TPC-H (round-5 additions; r6 adds the heaviest joins:
        # Q8's 7-table chain, Q9's part-filtered 5-way, Q18's large IN)
        "q_tpch_q1",
        "q_tpch_q3",
        "q_tpch_q5",
        "q_tpch_q8",
        "q_tpch_q9",
        "q_tpch_q18",
        "q_tpch_q21",
        # catalog lifecycle + iterative graph (round-6 additions)
        "q_catalog_merge",
        "q_pagerank",
        # scalar/array pipeline
        "q_project_expr",
        "q_array_funcs",
        "q_csv_encode",
        # streaming (real micro-batch execution)
        "q_stream_tumbling",
        "q_stream_stream_join",
        # LLM pipeline
        "q_dedup_exact",
        "q_dedup_minhash",
        "q_dedup_clusters",
        "q_dedup_bloom",         # round-8: Bloom-prefiltered incremental dedup
        "q_triangle_count",      # round-8: degree-ordered triangle counting
        "q_source_drift",        # round-8: per-source unigram KL drift
        "q_semantic_dedup",      # round-7: SemDeDup cluster-then-compare
        "q_quality_classifier",  # round-7: model-based quality filter
        "q_block_dedup",
        "q_span_dedup",
        "q_span_dedup_hashed",
        "q_text_top_terms",
        "q_tfidf",
        "q_cosine_topk",
        "q_contamination",
        # training-batch prep + LM quality scoring (round-5 additions)
        "q_chunk_documents",
        "q_pack_sequences",
        "q_unigram_logprob",
        # time series
        "q_sessionize",
        # heavy round-8 additions (VERDICT r8 #7: track their cost
        # round-over-round like the rest of the top end)
        "q_entity_resolution",   # blocked levenshtein linkage
        "q_knn_graph",           # bucket-restricted mutual 3-NN
        "q_semantic_clusters",   # mutual-kNN connected components
        "q_bm25",                # Okapi BM25 retrieval scorer
        "q_sketch_calibration",  # MinHash-vs-exact contingency
        # overlap family (round-10, VERDICT r9 #6: the r9 word_ngrams
        # HOF fix changed q_source_overlap 5x at scale, and the two
        # late-r9 additions are its at-scale replacement + the
        # leakage-safe split -- all three need round-over-round tracking)
        "q_source_overlap",        # exact S^2/2 shingle-overlap matrix
        "q_source_overlap_sketch", # slot-wise MinHash agreement estimator
        "q_split_leakage_safe",    # near-dup-cluster-coherent split
        # round-10 additions (same heavy-addition tracking rule)
        "q_ann_pq",                # PQ encode + ADC top-k
        "q_ann_pq_recall",         # ADC-vs-exact recall harness
        "q_stream_near_dup",       # ingest-time band-key state dedup
        # round-11 additions (the IVFADC serving composition)
        "q_ann_ivfpq",             # IVF prune + ADC shortlist + re-rank
        "q_ann_ivfpq_recall",      # IVFPQ-vs-exact recall harness
        # round-12 additions (the perceptual-hash production pair)
        "q_multimodal_phash_keep_one",  # hash-universe banded CC keep-one
        "q_stream_phash_dedup",         # ingest-time radius-0 hash claim
        # round-13 addition (the embedding-space eval-leakage gate)
        "q_semantic_decontaminate",     # clustered train x eval compare
        # round-14 additions (tokenizer training + the ingest-time
        # semantic gate -- same heavy-addition tracking rule)
        "q_bpe_train",                  # 8-round merge learning loop
        "q_bpe_apply",                  # vocab-universe segmentation join
        "q_stream_semantic_decontaminate",  # stateless cosine gate at ingest
        "q_rrf_fusion",                 # two-lane top-50 + rank fusion
        "q_dsir_weights",               # bucket model + scoring join
        "q_perplexity_buckets",         # bigram LM + two-pass rank terciles
        "q_stream_bpe_apply",           # per-occurrence fold at ingest
    ]

    harness.quiet_logs(spark)
    harness.warm_up(spark, sf_dir)

    # Per-query MIN over N repetitions: host noise swings identical code
    # 2x+ between runs (PLANS.md round-5 variance note), and the minimum
    # is the estimator least contaminated by it. With min-of-2, untouched
    # queries still drifted 1.3-1.7x between rounds, hence 3.
    try:
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    except ValueError:
        repeats = 3

    sentinel_sec = harness.sentinel(spark, sf_dir, repeats)

    # A row that declares trains= retrains in EVERY rep, so its min
    # includes the training its declared work is (the memo would serve
    # it warm from rep 2 on). Apply-only rows (q_bpe_apply,
    # q_stream_bpe_apply) keep the memo-warm serving path: tokenizing
    # with an already-trained vocabulary is their declared measurement.
    memo_cleared_rows = [n for n in headline if n in TRAINS]

    timings: dict[str, float] = {}
    warm_companions: dict[str, float] = {}
    for name in headline:
        if name == harness.SENTINEL:
            # the sentinel's own min: same work, and a ninth warmed rep
            # would make this row warmer than every other
            timings[name] = round(sentinel_sec, 3)
            continue
        timings[name] = round(
            harness.time_query(
                spark, sf_dir, name, repeats, retrain=name in TRAINS
            ),
            3,
        )
        if name in TRAINS:
            # continuity companion, kept out of "queries": the same row
            # with the memo left populated (the loop above just trained
            # it), the pre-r15 memo-warm methodology of this row's series
            warm_companions[f"{name}_warm"] = round(
                harness.time_query(spark, sf_dir, name, repeats), 3
            )

    m = re.search(r"sf([0-9.]+)", sf_dir)
    result = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(m.group(1)) if m else None,
        # methodology self-description: per-query min over this many
        # repetitions (r1-r4 artifacts were single-shot; without this
        # field cross-round comparisons conflate code speedups with the
        # estimator change)
        "repeats": repeats,
        # host-drift normalizer: min-of-5 of a query untouched since r1.
        # Cross-round per-query comparisons should be read as
        # (t_new / t_old) / (sentinel_new / sentinel_old).
        "sentinel_query": harness.SENTINEL,
        "sentinel_sec": round(sentinel_sec, 3),
        # rows whose training memo is cleared before EVERY rep so their
        # min-of-N includes the declared training leg (r15 measurement
        # fix; r14 and earlier timed these memo-warm from rep 2 on).
        "memo_cleared_rows": sorted(memo_cleared_rows),
        # one "<name>_warm" companion per memo-cleared row, timed with the
        # OLD memo-warm methodology so the pre-r15 per-row series stays
        # comparable. Kept out of "queries" and "value": the companion
        # re-times its main row's serving path, so summing it would count
        # that row twice.
        "warm_companions": warm_companions,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
