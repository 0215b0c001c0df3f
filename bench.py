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

Timing is end-to-end per query (plan + execute + materialize through the
``noop`` sink on a cached-nothing session), preceded by one warm-up of the
flagship to amortize JVM/codegen startup out of the first measurement.
The noop write executes EVERY output column JVM-side -- ``count()`` lets
Catalyst prune projection-only work (a CASE-chain remap under count()
never runs), while ``foreach`` would measure Python row shipping instead
of the query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
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

    # Artifact hygiene (VERDICT r12 #4, root-caused this round): reading
    # a foreachBatch parquet sink back through the batch_id=* glob trips
    # FileStreamSink's has-metadata probe, which WARN-logs a full
    # java.io.FileNotFoundException stack (bottom frames: the py4j
    # command loop) even though the read succeeds -- exactly the
    # truncated stack fragment BENCH_r12.json's tail captured (benign,
    # rc=0, JSON intact; reproduced locally with stderr split out).
    # Silence that one logger for the bench process so the driver's
    # combined-output tail stays clean JSON.
    jvm = spark._jvm
    for noisy_logger in (
        # FileStreamSink's has-metadata probe: set BOTH the Spark 4.x
        # name (under streaming.sinks -- verified against the bundled
        # spark-sql jar) and the pre-4.x name so the clean-tail
        # guarantee survives a Spark up/downgrade (ADVICE r13; setting
        # a level on a logger name that never logs is harmless).
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        "org.apache.spark.sql.execution.streaming.FileStreamSink",
        # WindowExec's "No Partition Defined for Window" advisory: the
        # two fact-sized offenders were re-planned in r14 (q_logprob_
        # strata, q_win_percent_rank -- the two-pass range-partitioned
        # rank); the remaining unpartitioned windows are over BOUNDED
        # relations (range arrays, k-row centroid init, catalog-sized
        # value tables, TPC-H Q15's aggregated supplier relation) where
        # the warning is noise, not a scale signal. Suppressed for the
        # bench process only so the driver's tail stays clean JSON.
        "org.apache.spark.sql.execution.window.WindowExec",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            noisy_logger, jvm.org.apache.logging.log4j.Level.ERROR
        )

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: JVM, codegen, parquet footer caches, and the Python/Arrow
    # worker pool (first pandas_udf call pays worker startup once).
    materialize(QUERIES["q_agg_group"](spark, sf_dir))
    materialize(QUERIES["q_cosine_topk"](spark, sf_dir))
    # Stage the streaming micro-batch files OUTSIDE the timed loop: staging
    # is test-rig setup (split the static fixture into per-batch parquet
    # files), not query work, and it re-runs only when the fixture data
    # generation changes (content-addressed scratch dir). DERIVED from the
    # headline list so adding a streaming query can't silently push its
    # staging cost back into the timed loop.
    from weighted_raster_overlay_service_toolbox_spark.streaming import engine

    staging_of = {
        "q_stream_tumbling": [(engine.stage_event_files, "tumbling", {})],
        "q_stream_sliding": [(engine.stage_event_files, "sliding", {})],
        "q_stream_session": [(engine.stage_with_sentinel, "session", {})],
        "q_stream_static_join": [(engine.stage_event_files, "static_join", {})],
        "q_stream_watermark": [
            (engine.stage_event_files, "watermark", {"n_files": 4, "late_events": 200})
        ],
        "q_stream_dedup": [
            (engine.stage_event_files, "dedup", {"n_files": 4, "late_events": 200})
        ],
        "q_stream_agg_update": [(engine.stage_event_files, "agg_update", {})],
        "q_stream_stateful_custom": [(engine.stage_event_files, "stateful", {})],
        "q_stream_upsert": [(engine.stage_event_files, "upsert", {})],
        "q_stream_stream_join": [
            (engine.stage_event_files, "ss_join", {}),
            (engine.stage_event_files, "ss_join_b", {}),
        ],
        "q_stream_stream_left_join": [
            (engine.stage_with_sentinel, "ss_left", {}),
            (engine.stage_with_sentinel, "ss_left_b", {}),
        ],
        "q_stream_near_dup": [(engine.stage_document_files, "near_dup", {})],
        "q_stream_phash_dedup": [
            (engine.stage_document_files, "phash_dedup", {})
        ],
        "q_stream_semantic_decontaminate": [
            (engine.stage_embedding_files, "sem_decon", {})
        ],
        "q_stream_bpe_apply": [
            (engine.stage_document_files, "bpe_apply", {})
        ],
    }
    for name in headline:
        if name.startswith("q_stream_"):
            for fn, variant, kw in staging_of[name]:
                fn(spark, sf_dir, variant, **kw)

    # Per-query MIN over N repetitions (standard noisy-host methodology):
    # ambient hypervisor variance on this rig swings identical code 2x+
    # between runs (PLANS.md round-5 variance note), and the minimum is
    # the estimator least contaminated by external scheduler noise while
    # still measuring real end-to-end execution. Override with
    # SPARK_GRAFT_BENCH_REPEATS=1 for the old single-shot behavior.
    # Default raised 2 -> 3 in round 7 (VERDICT r6 'Next round' #5):
    # with min-of-2, untouched queries still drifted 1.3-1.7x between
    # rounds and swamped real deltas.
    try:
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    except ValueError:
        repeats = 3

    # Host-drift sentinel (round 7): q_join_inner's code is untouched
    # since round 1, so its min-of-5 here -- cold session, same position
    # every round -- measures THE HOST, not the repo. Cross-round readers
    # divide any per-query delta by the sentinel ratio before calling it
    # a regression -- e.g. r5->r6's "q_tpch_q1 1.74x slower" was pure
    # drift that this field would have normalized away.
    sentinel_name = "q_join_inner"
    sentinel_best = float("inf")
    for _ in range(max(repeats, 5)):
        t0 = time.perf_counter()
        materialize(QUERIES[sentinel_name](spark, sf_dir))
        sentinel_best = min(sentinel_best, time.perf_counter() - t0)

    # Memo honesty (round 15, VERDICT r14 "What's wrong" #1): the
    # registry keeps session-scoped TRAINING memos (_BPE_TRAIN_MEMO,
    # _PQ_TRAIN_MEMO) so that several registry rows sharing one
    # deterministic training leg train it once per process. Correct for
    # parity sweeps, but under min-of-N it made the rows whose DECLARED
    # work *is* training time memo-warm serving from rep 2 on. Every rep
    # of a train-declaring row now clears its memo first, so q_bpe_train
    # includes the 8 merge rounds and the four PQ/ANN rows include
    # codebook training in EVERY rep (their r15 numbers are therefore
    # expected to sit above the r14 memo-warm ones -- a measurement fix,
    # not a regression). Apply-only rows (q_bpe_apply,
    # q_stream_bpe_apply) keep the memo-warm serving path: tokenizing
    # with an already-trained vocabulary is their declared measurement,
    # and their warm-min is unchanged from r14 (rep 1 retrains, the min
    # still comes from warm reps).
    from weighted_raster_overlay_service_toolbox_spark.queries import (
        llm as _llm_queries,
    )

    memo_cleared_rows = {
        "q_bpe_train": (_llm_queries._BPE_TRAIN_MEMO,),
        "q_ann_pq": (_llm_queries._PQ_TRAIN_MEMO,),
        "q_ann_pq_recall": (_llm_queries._PQ_TRAIN_MEMO,),
        "q_ann_ivfpq": (_llm_queries._PQ_TRAIN_MEMO,),
        "q_ann_ivfpq_recall": (_llm_queries._PQ_TRAIN_MEMO,),
    }

    timings: dict[str, float] = {}
    warm_companions: dict[str, float] = {}
    for name in headline:
        if name == sentinel_name:
            # ADVICE r7 #4: the sentinel warm-up made q_join_inner's
            # headline systematically warmer than every other query's;
            # reuse the sentinel's own min (same work, honest label)
            # instead of timing a ninth warmed repetition.
            timings[name] = round(sentinel_best, 3)
            continue
        best = float("inf")
        for _ in range(repeats):
            for memo in memo_cleared_rows.get(name, ()):
                memo.clear()
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        if name in memo_cleared_rows:
            # continuity companion (published under "warm_companions",
            # never renames or re-times the main row): the pre-r15
            # artifacts timed these rows memo-warm from rep 2 on
            # (min-of-N over a populated training memo), so the main
            # row's r15 number is not comparable to its r14 number by
            # construction. <name>_warm preserves the OLD methodology --
            # min over `repeats` reps with the memo left populated (the
            # honest loop above just trained it) -- purely so
            # round-over-round comparisons keep an apples-to-apples
            # series for the serving path.
            warm = float("inf")
            for _ in range(repeats):
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, sf_dir))
                warm = min(warm, time.perf_counter() - t0)
            warm_companions[f"{name}_warm"] = round(warm, 3)

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
        "sentinel_query": sentinel_name,
        "sentinel_sec": round(sentinel_best, 3),
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
