"""Standing per-decade scaling harness (VERDICT r9 #7).

The r8/r9 sf1 scaling tables were measured ad hoc; this script makes the
per-decade ratio a tracked artifact like bench.py's wall-clock. It

- regenerates the realistic 10x fixtures if absent (``make_sf1.py`` ->
  ``.scratch/sf1r``; ``--grow-pools`` -> ``.scratch/sf1rg`` for the
  entity-resolution regime pair),
- runs the scaling probe set at sf0.1 and sf1r (min-of-3 since r12 --
  SCALING_r11's sentinel moved 2.4x on identical code vs r10's 1.96x,
  so min-of-2 was not pinning the host floor) through bench.py's
  harness (``harness.py``: warm-up, declared stream inputs staged
  outside the timer, noop sink, min-of-N),
- runs q_entity_resolution ALSO at sf1rg (grown name pools), because its
  cost is a DATA-regime property: fixed-name pools grow blocks linearly
  (the driver fixture's convention), grown pools keep the block-size
  distribution stationary (PLANS.md r9),
- prints ONE JSON line and writes it to the output path (default
  ``SCALING.json``; pass e.g. ``SCALING_r10.json``)::

      {"metric": "scaling_10x_ratio", "queries": {name: {"sf0.1": s,
       "sf1r": s, "ratio": r}, ...}, "er_regimes": {...},
       "sentinel_sec": s, ...}

The probe set is the r9 19-query table plus the operators added or
re-planned since (overlap sketch, leakage-safe split, semantic clusters,
repetition ratio). Ratios read against 10x rows: ~1x = sublinear
(saturating distincts), ~10x = linear, >>10x = super-linear -- the
regression signal this artifact exists to catch round-over-round.
q_join_inner is the host-drift sentinel (code unchanged since r1): read
cross-round ratio deltas normalized by the sentinel's own drift.

Between-probe storage cleanup (round 14, VERDICT r13 #4): every probe
now runs against CLEAN executor storage -- persistent RDD blocks
(accumulated non-eager localCheckpoint pins from earlier probes) are
unpersisted, the SQL cache cleared, and every declared training memo
dropped (``registry.reset_training()``) after each probe. Without this,
a late probe that pins corpus-sized relations (pagerank's 12M-row
edge fan) finds storage memory already full and reads its pins from
DISK: SCALING_r13 recorded pagerank at 6.91x in-sweep while the same plan measured 3.2x isolated -- the gap
was sweep-session storage pressure, not the plan. In-sweep ratios now
match isolated A/Bs by construction. (The memo drop is what makes the
blanket unpersist SAFE: a localCheckpointed RDD cannot recompute, so
any cached DataFrame that survived cleanup would be poisoned -- the
memos are the only cross-probe holders of such frames, and each
probe's min-of-3 reps still share them within the probe.)

Since round 14 the sweep also times the PRODUCT-level number a platform
team would quote: the full curate_corpus cascade (quality -> repetition
-> dedup -> MinHash near-dup -> image phash dedup -> embedding
decontamination -> domain cap) end to end at both fixtures, published
under ``pipeline_curate_corpus``.

NOT a correctness artifact: sf1r is generator output for performance
shape only; parity stays pinned to the driver fixtures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1R = os.path.join(REPO, ".scratch", "sf1r")
SF1RG = os.path.join(REPO, ".scratch", "sf1rg")

#: r9 19-query table + post-r9 additions/replans. One representative per
#: super-linear-risk family; the flat/linear entries stay as controls.
PROBES = [
    "q_sketch_calibration",
    "q_triangle_count",
    "q_dedup_clusters",
    "q_lang_entropy",
    "q_dedup_bloom",
    "q_tpch_q9",
    "q_agg_group",
    "q_bm25",
    "q_logprob_strata",
    "q_tfidf",
    "q_ann_recall",
    "q_bigram_lm",
    "q_kmeans",
    "q_cosine_topk",
    "q_pagerank",
    "q_semantic_dedup",
    "q_source_overlap",
    "q_knn_graph",
    "q_entity_resolution",
    # post-r9 additions / replans
    "q_source_overlap_sketch",
    "q_split_leakage_safe",
    "q_semantic_clusters",
    "q_repetition_ratio",
    # r10 additions: PQ training shuffles + the band-key state store
    "q_ann_pq",
    "q_stream_near_dup",
    # r11 addition: the IVFADC composition (16 joint codebooks + bucket
    # gate + shortlist re-rank -- the heaviest training stage in the
    # ANN family, so its decade ratio gets tracked)
    "q_ann_ivfpq",
    # r12 additions: the hash-universe keep-one (CC rounds over the
    # distinct-hash graph -- the linearity claim is exactly what a
    # decade ratio tests) and the ingest-time radius-0 hash claim
    "q_multimodal_phash_keep_one",
    "q_stream_phash_dedup",
    # r13 addition: the eval-decontamination compare (train x eval
    # within cells, eval side broadcast -- the claim is linear-in-
    # corpus because the eval suite is bounded; the decade ratio tests
    # exactly that)
    "q_semantic_decontaminate",
    # late-r14 additions: the two-lane fused retrieval (TakeOrdered
    # lanes -- the claim is scan-bound linear with a constant driver
    # merge), the one-scan bucket-model scorer (linear by the same
    # argument as the LM rows), the global_rank tercile consumer (the
    # two-pass rank's decade behavior under a per-source offset join),
    # and the ingest-time fold tokenizer (per-occurrence expression
    # cost -- linear with a constant 8-fold factor is the claim)
    "q_rrf_fusion",
    "q_dsir_weights",
    "q_perplexity_buckets",
    "q_stream_bpe_apply",
    # host-drift sentinel (unchanged since r1)
    "q_join_inner",
]


def _drop_probe_storage(spark) -> None:
    """Reset executor storage between probes (see module docstring):
    drop the training memos (their values reference localCheckpointed
    RDDs the unpersist invalidates), clear the SQL cache, unpersist
    every persistent RDD block."""
    from weighted_raster_overlay_service_toolbox_spark.queries.registry import (
        reset_training,
    )

    reset_training()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _curate_pipeline(spark, sf_dir: str):
    """The full curate_corpus cascade over a fixture dir: documents with
    deterministically synthesized PPM payloads (the q_multimodal_phash_
    dedup fixture encoder), MinHash near-dup on, embedding
    decontamination against the src0 eval suite, per-source domain cap.
    Returns the stats relation. The call itself runs the near-dup rounds
    and the verdict pin's shuffle stages; materializing the relation runs
    the rest, so a timer must cover both."""
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.multimodal import (
        ppm_payload,
    )
    from weighted_raster_overlay_service_toolbox_spark.pipeline import (
        curate_corpus,
    )
    from weighted_raster_overlay_service_toolbox_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "source",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    docs = d.select(
        "doc_id", "text", "source", ppm_payload("w", "h", "text").alias("payload")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id")
    )
    # Knobs picked from the MEASURED fixture split (PLANS.md round 14)
    # so every stage carries real load at both fixtures: exact-verified
    # near-dup at 0.9 (the synthetic corpus is highly self-similar --
    # the default 0.5 estimate drops ~90%), image radius 1 (radius 3
    # collapses the 24-combo (w,h) payload space into ONE family and
    # the cascade keeps 1 doc of 5000). sf0.1 split with these knobs:
    # 1726 near-dup, 1676 image, 1065 dup, 15 contaminated, 517 kept.
    _, _, stats = curate_corpus(
        docs,
        min_tokens=5,
        near_dup=True,
        near_dup_exact_jaccard=0.9,
        # threshold-matched banding (bands=2 -> LSH t=(1/2)^(1/8)~0.917
        # for the 0.9 verify): the default 0.35-curve banding
        # over-generates candidates quadratically on this fixture's
        # 31-token vocabulary (33k distinct token sets at pairwise
        # j~0.5 at sf1r) -- the probe stalled ~30 min in one broadcast
        # build before this knob existed; see pipeline.py's banding note
        near_dup_bands=2,
        image_payload_col="payload",
        image_hamming_radius=1,
        image_bands=8,
        embeddings=emb,
        eval_ids=ev,
        docs_per_source=500,
    )
    return stats


def _ensure_fixture(path: str, grow: bool) -> None:
    if os.path.isfile(os.path.join(path, "documents.parquet")):
        return
    cmd = [sys.executable, os.path.join(REPO, "make_sf1.py"), path]
    if grow:
        cmd.append("--grow-pools")
    subprocess.run(cmd, check=True, cwd=REPO)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.json"
    _ensure_fixture(SF1R, grow=False)
    _ensure_fixture(SF1RG, grow=True)

    import harness
    from weighted_raster_overlay_service_toolbox_spark.session import get_spark

    spark = get_spark("wros-spark-scaling")
    harness.quiet_logs(spark)

    # full precision out of every timer: the 10x ratio is the artifact's
    # whole point, and rounding to 2dp first turns sub-0.1s probes into
    # coarse or None ratios (ADVICE r10). Reported values are rounded at
    # the presentation edge below.
    def timed(name: str, sf_dir: str) -> float:
        return harness.time_query(spark, sf_dir, name, 3)

    for d in (SF01, SF1R):
        harness.warm_up(spark, d)

    queries: dict[str, dict] = {}
    for name in PROBES:
        # probe markers on stderr: the sweep runs ~40 probes over ~1h
        # with nothing identifying them in the log -- a stuck stage was
        # unattributable this round until a thread dump + mtime
        # archaeology; one line per leg fixes that class.
        print(f"[scaling] {name} sf0.1 ...", file=sys.stderr, flush=True)
        t_small = timed(name, SF01)
        print(f"[scaling] {name} sf1r ...", file=sys.stderr, flush=True)
        t_big = timed(name, SF1R)
        queries[name] = {
            "sf0.1": round(t_small, 3),
            "sf1r": round(t_big, 3),
            "ratio": round(t_big / t_small, 2) if t_small > 0 else None,
        }
        print(f"[scaling] {name} done {queries[name]}", file=sys.stderr, flush=True)
        _drop_probe_storage(spark)

    er_fixed = queries["q_entity_resolution"]
    er_grown = timed("q_entity_resolution", SF1RG)
    _drop_probe_storage(spark)
    er_regimes = {
        "fixed_name_pools_sf1r": er_fixed["sf1r"],
        "grown_name_pools_sf1rg": round(er_grown, 3),
    }

    # The mutual-kNN PRODUCTION default (n_planes="auto") -- the
    # registry pins 4 for its oracle's inlined plane literals, so the
    # auto path gets its per-decade tracking here: at sf0.1 the mask
    # resolves to the same 4 bits (pure plane-dot overhead), at sf1r
    # auto=7 planes is what keeps per-bucket pair work flat.
    from weighted_raster_overlay_service_toolbox_spark.queries.llm import (
        _mutual_knn_edges,
    )

    def timed_auto(sf_dir: str) -> float:
        return harness.best_of(
            lambda: harness.materialize(
                _mutual_knn_edges(spark, sf_dir, n_planes="auto")[0]
            ),
            3,
        )

    ka_small, ka_big = timed_auto(SF01), timed_auto(SF1R)
    knn_auto = {
        "sf0.1": round(ka_small, 3),
        "sf1r": round(ka_big, 3),
        "ratio": round(ka_big / ka_small, 2) if ka_small > 0 else None,
    }
    _drop_probe_storage(spark)

    # end-to-end curate_corpus cascade (round 14, VERDICT r13 #8): the
    # product-level decade ratio. Same min-of-3 / noop-sink discipline.
    def timed_pipeline(sf_dir: str) -> float:
        return harness.best_of(
            lambda: harness.materialize(_curate_pipeline(spark, sf_dir)),
            3,
            before=lambda: _drop_probe_storage(spark),
        )

    print("[scaling] pipeline_curate_corpus sf0.1 ...", file=sys.stderr, flush=True)
    cp_small = timed_pipeline(SF01)
    print("[scaling] pipeline_curate_corpus sf1r ...", file=sys.stderr, flush=True)
    cp_big = timed_pipeline(SF1R)
    pipeline_probe = {
        "sf0.1": round(cp_small, 3),
        "sf1r": round(cp_big, 3),
        "ratio": round(cp_big / cp_small, 2) if cp_small > 0 else None,
    }

    result = {
        "metric": "scaling_10x_ratio",
        "unit": "sec",
        "sf_small": SF01,
        "sf_big": SF1R,
        "queries": queries,
        "er_regimes": er_regimes,
        "knn_production_auto_planes": knn_auto,
        "pipeline_curate_corpus": pipeline_probe,
        "storage_cleanup": "unpersist+clearCache+memo-drop between probes",
        "sentinel_query": harness.SENTINEL,
        "sentinel_ratio": queries["q_join_inner"]["ratio"],
    }
    line = json.dumps(result)
    print(line)
    with open(os.path.join(REPO, out_path), "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main()
