"""Registry-wide plan-shape allowlists (plan_audit.py's checkable half).

Three operator classes need a conscious decision at 100 TB -- a Python
boundary (Arrow batch transfer, out of whole-stage codegen), a
non-equi join (CartesianProduct / BroadcastNestedLoopJoin), and a
checkpointed subtree (plan-invisible upstream; its single-scan claim
must be pinned at runtime instead). Every in-repo occurrence is
deliberate and documented (PLANS.md / the query docstring); this test
pins the EXACT sets so a new query cannot introduce any of the three
silently -- extending an allowlist is the audit trail.

Coverage caveat (inherited from plan_audit.py): streaming queries and
eager iterative operators execute during DataFrame construction, so
their registered plan is the post-execution result -- their plan
properties are pinned by the streaming/golden/runtime tests, not here.
"""

from __future__ import annotations

from plan_audit import audit_plan, formatted_plan
from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

from .conftest import SF_SMOKE

#: declared UDF surface + Arrow-vectorized multimodal ops -- each
#: documented as Python-by-necessity in its docstring. Includes the
#: UDTF (BatchEvalPythonUDTF) and Arrow UDAF (ArrowAggregatePython)
#: nodes the first detector version missed. r8: cosine_topk /
#: embed_near_dup / semantic_dedup LEFT this set -- their oracle-gated
#: rounded cosines moved to the JVM-side sequential fold (dot_expr,
#: bit-matching DuckDB's list_dot_product; ADVICE r7 #1), so their
#: plans are now fully whole-stage-codegen; dot_pandas remains the
#: documented bulk path, exercised by unit tests.
PYTHON_EVAL_ALLOWED = {
    "q_multimodal_audio_features",  # r12: WAV encode seam + validating
                                    # parse, two chained Arrow passes
    "q_multimodal_scene_change",    # r12: frame byte-sum signatures; the
                                    # detection window stays JVM-side
    "q_multimodal_decode",
    "q_multimodal_phash_dedup",
    # q_multimodal_phash_near_dup's mapInPandas sits BEHIND its pinned
    # hash relation (Scan ExistingRDD), so the registered plan shows no
    # python boundary -- it appears in CHECKPOINTED_ALLOWED instead.
    "q_multimodal_framesample",
    "q_multimodal_resize",
    "q_pack_sequences",
    "q_udaf_grouped",
    "q_udf_grouped_map",
    "q_udf_scalar",
    "q_udtf_flatmap",
    "q_udtf_lateral",
}

#: non-equi joins whose build side is BOUNDED by design: one-row scalar
#: thresholds (tpch_q11/q22, tfidf, collocations, unigram_logprob,
#: approx_topk, wro_equal_interval, kmeans inertia), a literal band
#: table (join_range), centroid/probe matrices (ann_ivf, cosine_topk,
#: embed_near_dup, kmeans), metadata-sized grids (timeseries_gapfill),
#: a filtered pair sample (str_levenshtein), or the declared cross-join
#: operator itself (join_cross).
NON_EQUI_ALLOWED = {
    "q_ann_ivf",
    "q_ann_ivfpq",  # r11: 25-row probe-bucket broadcast gate (array_contains BNLJ)
    "q_ann_ivfpq_recall",  # r11: probe-bounded exact-leg cross join + the IVFPQ leg
    "q_ann_pq_recall",  # r10: probe-bounded exact-leg cross join (q_cosine_topk shape)
    "q_ann_recall",  # r8: 25-probe broadcast x corpus -- the ground-truth leg
    "q_approx_topk",
    "q_bigram_lm",  # r8: scalar vocab-size V cross join (unigram path)
    "q_bm25",       # r8: scalar (N, sum_dl) stats cross join
    "q_collocations",
    "q_cosine_topk",
    "q_decay_agg",  # r8: scalar max-timestamp cross join
    "q_embed_near_dup",
    "q_join_cross",
    "q_join_range",
    "q_kmeans",
    # q_logprob_strata LEFT this set in r14: its scalar corpus-total
    # cross join (unigram path) now sits BEHIND global_rank's pinned
    # range-partitioned relation, so the registered plan shows a Scan
    # ExistingRDD instead -- see CHECKPOINTED_ALLOWED.
    # r15: q_knn_graph / q_semantic_clusters left this list -- the
    # census cross join moved above the corpus pin (one evaluation) so
    # it no longer appears in the post-pin plan, and the mutual-kNN
    # self-join (the other non-equi shape) was replaced by an
    # in-partition unordered-pair aggregation.
    "q_semantic_dedup",   # r9: scalar occupancy-census cross join (auto cap)
    "q_rrf_fusion",       # r14: scalar query-set-size cross join (1-row
                          # BNLJ feeding the Jaccard denominator)
    "q_dsir_weights",     # r14: scalar smoothing-total cross joins
                          # (1-row nt + nr feeding the log-ratio model)
    "q_skew_keys",        # r8: scalar (total, n_keys) stats cross join
    "q_source_drift",     # r8: scalar corpus-total cross join
    "q_source_overlap_sketch",  # r9: src_a < src_b pair matrix over the
                                # source enum (S^2/2 rows, catalog-sized)
    "q_str_levenshtein",
    "q_tfidf",
    "q_timeseries_gapfill",
    "q_tpch_q11",
    "q_tpch_q22",
    "q_unigram_logprob",
    "q_wro_equal_interval",
}

#: queries whose plan contains a Scan ExistingRDD (localCheckpoint):
#: the upstream subtree is plan-invisible, so each entry either carries
#: a runtime executed-plan scan pin (tests/test_plans.py: pagerank,
#: gapfill, interval_join) or is a documented shared-projection /
#: iterative / catalog-staging design. A NEW checkpoint must be added
#: here consciously -- it is the audit blind spot.
CHECKPOINTED_ALLOWED = {
    "q_ann_ivfpq",        # r11: pinned embeddings feed bucket gate + 16 subspace
                          # k-means + ADC + re-rank (one materialization, 4 consumers)
    "q_ann_ivfpq_recall",  # r11: shares q_ann_ivfpq's pinned leg
    "q_ann_pq",           # r10: pinned embeddings feed 4 subspace k-means + probes;
    "q_ann_pq_recall",    # r10: shares q_ann_pq's pinned/checkpointed PQ leg
                          # per-iteration centroid checkpoints (kmeans convention)
    "q_ann_recall",       # r8: pinned bucketed vectors feed both legs
    "q_approx_topk",
    "q_bigram_lm",        # r8: pinned token/bigram streams (3 consumers)
    "q_bm25",             # r8: pinned (doc_id, dl, toks) feeds stats + tf
    "q_bpe_apply",        # r14: pinned vocab-sized word universe feeds
                          # the training loop's per-round aggs + the
                          # segmentation join-back (one corpus scan)
    "q_bpe_train",        # r14: the merge table materializes driver-side
                          # (8 bounded argmax collects) and re-enters as
                          # a parallelized local relation (ExistingRDD)
    "q_collocations",
    "q_containment_sim",
    "q_decay_agg",        # r8: pinned (type, t_us, value) feeds max + weights
    "q_decontaminate",
    "q_dedup_bloom",      # r8: pinned fp index + <=64-row Bloom word table
    "q_dedup_minhash",
    "q_embed_outliers",   # r8: pinned flat (vec,pos,xq) feeds sums + join-back
    "q_entity_resolution",  # r10: pinned rec (census + final join) and
                            # pinned laned part relation (both join sides)
    "q_hll_rollup",
    "q_interval_join_binned",
    "q_jaccard_sim",
    "q_join_asof_nearest",  # r8: pinned events base feeds both asof legs
    "q_join_range",
    "q_kmeans",
    "q_knn_graph",        # r8: pinned bucketed vectors feed both join sides
    "q_lang_entropy",     # r8: pinned (source, lang) counts feed totals + terms
    "q_logprob_strata",   # r8: pinned token stream (q_unigram_logprob
                          # trade); r14: + global_rank's pinned
                          # range-partitioned doc relation (two-pass
                          # rank replacing the global NTILE window)
    "q_multimodal_phash_near_dup",  # r11: pinned aHash relation feeds both
                                    # banded self-join sides (decode runs once)
    "q_multimodal_phash_keep_one",  # r12: pinned (phash, rep_id, n_docs) hash
                                    # universe feeds the banded CC + the final
                                    # rollup (decode + corpus shuffle run once)
    "q_ngram_jaccard",
    "q_outliers_mad",     # r8: pinned non-null values feed both rank passes
    "q_pagerank",
    "q_source_overlap_sketch",  # r9: pinned (source, gram) distinct feeds
                                # signatures + source list; pinned S*K
                                # melted signature feeds both agree sides
    "q_rare_token_ratio",
    "q_rrf_fusion",       # r14: pinned distinct-token stream feeds the
                          # sizes agg + the query-term probe join (one
                          # corpus scan for the lexical lane)
    "q_dsir_weights",     # r14: pinned bigram-bucket stream feeds the
                          # target counts, raw counts, and scoring join
                          # (one corpus scan)
    "q_perplexity_buckets",  # r14: inherits bigram_doc_scores' pinned
                             # token/bigram streams + global_rank's
                             # pinned range-partitioned relation
    "q_semantic_clusters",  # r8: pinned vectors + CC per-round state
    "q_semantic_dedup",
    "q_simhash",
    "q_sketch_calibration",  # r8: pinned token sets feed sigs + exact verify
    "q_skew_keys",        # r8: pinned per-key counts feed stats + report
    "q_source_drift",     # r8: pinned (source, word) counts feed 3 marginals
    "q_source_overlap",   # r8: pinned (source, shingle) sets feed sizes + join
    "q_vocab_coverage",   # r8: pinned (source, tok) counts feed vocab + join
    # q_stream_near_dup LEFT this set in r11, and q_stream_agg_update /
    # q_stream_stateful_custom left it in r13, all for the same reason:
    # emissions now land in a batch_id-partitioned parquet sink
    # (run_near_dup_ingest / engine.run_to_parquet_log) and the
    # registered plan is a plain partitioned parquet scan.
    "q_semantic_decontaminate",  # r13: inherits semantic_dedup's pinned
                                 # assignment relation + pinned eval-id
                                 # slice (the registry row derives eval
                                 # ids from a corpus-sized documents
                                 # filter; pinning it keeps the filter
                                 # one-scan across the tr/ev consumers)
    "q_tfidf",
    "q_timeseries_gapfill",
    "q_tpch_q21",
    "q_triangle_count",   # r8: pinned canonical edge list (3 join legs)
    "q_unigram_logprob",
    "q_win_percent_rank",  # r14: global_rank's pinned range-partitioned
                           # relation feeds the counts pass and the rank
                           # pass (operators/rank.py; one range shuffle)
    "q_wro_catalog_update",
    "q_wro_decode_ranges",
    "q_wro_dup_names",
    "q_wro_minmax_validate",
    "q_wro_schema_check",
}


def test_python_non_equi_and_checkpoint_shapes_are_allowlisted(spark):
    # r15 (VERDICT r14 #4): batch-query plans are built through the
    # sanctioned 4-thread in-process pool; q_stream_* stay sequential
    # (streaming queries EXECUTE during construction against the shared
    # scratch sinks -- the module docstring's coverage caveat -- and a
    # racing twin could corrupt them).
    from concurrent.futures import ThreadPoolExecutor

    def audit_one(name: str) -> tuple[str, dict]:
        return name, audit_plan(formatted_plan(QUERIES[name](spark, SF_SMOKE)))

    batch = [n for n in QUERIES if not n.startswith("q_stream")]
    stream = [n for n in QUERIES if n.startswith("q_stream")]
    python_eval, non_equi, checkpointed = set(), set(), set()
    with ThreadPoolExecutor(max_workers=4) as pool:
        audits = list(pool.map(audit_one, batch))
    audits.extend(audit_one(n) for n in stream)
    for name, a in audits:
        if a["python_eval"]:
            python_eval.add(name)
        if a["non_equi_join"]:
            non_equi.add(name)
        if a["existing_rdd_scans"]:
            checkpointed.add(name)
    assert python_eval == PYTHON_EVAL_ALLOWED, (
        f"new python-boundary queries: {sorted(python_eval - PYTHON_EVAL_ALLOWED)}; "
        f"stale allowlist: {sorted(PYTHON_EVAL_ALLOWED - python_eval)}"
    )
    assert non_equi == NON_EQUI_ALLOWED, (
        f"new non-equi-join queries: {sorted(non_equi - NON_EQUI_ALLOWED)}; "
        f"stale allowlist: {sorted(NON_EQUI_ALLOWED - non_equi)}"
    )
    assert checkpointed == CHECKPOINTED_ALLOWED, (
        f"new checkpointed queries: {sorted(checkpointed - CHECKPOINTED_ALLOWED)}; "
        f"stale allowlist: {sorted(CHECKPOINTED_ALLOWED - checkpointed)}"
    )
