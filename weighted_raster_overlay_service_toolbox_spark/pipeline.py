"""One-call corpus curation: the composed training-data pipeline.

The query registry exposes every stage individually (q_text_quality,
q_repetition_ratio, q_dedup_exact, q_dedup_clusters, q_domain_cap, ...);
this module is the LIBRARY surface a user actually calls -- one function
that chains quality filtering, exact dedup, optional near-dup clustering,
and domain balancing, returning (kept, dropped-with-reason, stats) in the
same skip-with-reason shape as :func:`toolbox.filter_layers`.

No reference anchor (the reference has no text pipeline); the stage set
mirrors the public corpus-curation recipes (C4/Gopher-style quality
rules, fingerprint dedup, MinHash clustering, per-domain caps).

Scale posture: every stage is a declarative DataFrame transform, but not
all of the work waits for the caller's first action.

- At call time: near-dup clustering (opt-in) persists the candidate
  edges and collects them in one bounded job; a metadata-sized graph is
  clustered by union-find on the driver, a larger one by distributed
  rounds that run eagerly (operators/graph.py). The cascade ends in one
  pinned ``(id, reason)``
  verdict (plans/pinning.py ``pin_corpus``); in the default
  ``checkpoint`` mode, building the pin runs the cascade's shuffle stages.
- At materialization: the pin's final stage, then ``kept`` (a semi-join of
  ``docs`` against the verdict), ``dropped`` (a filter of it) and
  ``stats`` (one ``groupBy`` over it). All three read the same verdict, so
  materializing all three runs the cascade once, not once per output.

Stage costs: quality/fingerprint are narrow + one hash shuffle; near-dup
clustering adds the banded-LSH join and the components; the domain cap
is one window shuffle keyed by source. Only the candidate edges (up to
the components' driver threshold) and whatever the caller collects reach
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.dedup import minhash_candidates, minhash_verified_edges
from .operators.graph import connected_components
from .operators.text import fingerprint, repetition_features, tokens_of
from .plans.pinning import pin_corpus


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_tokens: int = 5,
    max_top_trigram_share: float | None = 0.5,
    near_dup: bool = False,
    near_dup_est_jaccard: float = 0.5,
    near_dup_exact_jaccard: float | None = None,
    near_dup_k: int = 16,
    near_dup_bands: int = 8,
    docs_per_source: int | None = None,
    image_payload_col: str | None = None,
    image_hash_bits: int = 16,
    image_hamming_radius: int = 3,
    image_bands: int | None = None,
    embeddings: DataFrame | None = None,
    eval_ids: DataFrame | None = None,
    contamination_threshold: float = 0.35,
    contamination_k: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the curation cascade; return ``(kept, dropped, stats)``.

    ``kept``: the surviving rows of ``docs`` (original columns).
    ``dropped``: ``(id, reason)`` -- first failing stage wins, mirroring
    the reference toolbox's skip-with-warning flow (R23 shape).
    ``stats``: ``(reason, n)`` counts, including ``kept``.

    Stages, in precedence order:

    1. ``too_short``  -- fewer than ``min_tokens`` tokens;
    2. ``repetitive`` -- top word-trigram share above the threshold
       (Gopher-style boilerplate signal); docs with no trigrams pass;
    3. ``duplicate``  -- same canonical token-set fingerprint as a
       lower-id doc (catches exact and reordered copies);
    4. ``near_duplicate`` (opt-in) -- MinHash-LSH candidates merged into
       connected components; every member but the component minimum
       drops. With ``near_dup_exact_jaccard`` set, candidates are
       exact-verified at that token-Jaccard threshold before clustering
       (operators/dedup.py minhash_verified_edges -- exact precision,
       banded recall); otherwise the estimated-similarity threshold
       ``near_dup_est_jaccard`` decides alone;
    5. ``image_near_duplicate`` (opt-in, ``image_payload_col``) -- the
       image-modality stage: aHash each binary PPM payload
       (operators/multimodal.py ahash_ppm), merge hashes within
       ``image_hamming_radius`` into families over the DISTINCT-hash
       universe (phash_components -- banded, lossless, never
       corpus-quadratic), keep the min-id doc per family. Lossless
       banding needs a band count that BOTH divides ``image_hash_bits``
       and exceeds ``image_hamming_radius``; pass ``image_bands`` to
       pick it explicitly, or leave ``None`` to use the smallest such
       divisor (``ValueError`` if no divisor of ``image_hash_bits``
       exceeds the radius -- e.g. radius >= bits);
    6. ``contaminated`` (opt-in, ``embeddings`` + ``eval_ids``) --
       embedding-space eval decontamination
       (operators/similarity.py semantic_decontaminate): k-means over
       the embedding relation ``(vec_id, e array<double>)``, then drop
       every surviving doc whose rounded cosine against any same-cell
       ``eval_ids`` member reaches ``contamination_threshold``. Eval
       docs never flow: an ``eval_ids`` member present in ``docs``
       drops with its own reason ``eval_member`` (the suite gates the
       corpus AND is excluded from it);
    7. ``domain_capped`` (opt-in) -- deterministic md5-ordered cap per
       source.
    """
    if (embeddings is None) != (eval_ids is None):
        # A caller who passes one but forgets the other would silently
        # get an UN-decontaminated corpus with no signal (ADVICE r13) --
        # the decontamination stage needs both the embedding relation
        # and the eval suite, so half a request is an error, not a skip.
        raise ValueError(
            "curate_corpus: embeddings and eval_ids must be provided "
            "together (decontamination needs both; got only "
            + ("embeddings" if eval_ids is None else "eval_ids")
            + ")"
        )
    id_ = F.col(id_col)
    base = docs.select(id_col, text_col, source_col)

    # stage 1+2: per-doc quality signals (narrow + one (doc, gram) shuffle)
    n_toks = F.size(tokens_of(text_col))
    quality = base.withColumn("_n_toks", n_toks)
    rep = repetition_features(docs, id_col, text_col).select(
        F.col("doc_id").alias("_rep_id"), "top_ngram_share"
    )
    quality = quality.join(
        rep, quality[id_col] == F.col("_rep_id"), "left"
    ).drop("_rep_id")

    too_short = F.col("_n_toks") < min_tokens
    repetitive = (
        (F.col("top_ngram_share") > max_top_trigram_share)
        if max_top_trigram_share is not None
        else F.lit(False)
    )
    reason = F.when(too_short, "too_short").when(repetitive, "repetitive")
    staged = quality.withColumn("_reason", reason)

    # stage 3: fingerprint dedup among survivors (one hash shuffle)
    alive = staged.filter(F.col("_reason").isNull())
    fp = alive.select(id_col, fingerprint(text_col).alias("_fp"))
    keep_fp = fp.groupBy("_fp").agg(F.min(id_).alias("_keep_id"))
    dup = (
        fp.join(keep_fp, "_fp")
        .filter(id_ != F.col("_keep_id"))
        .select(id_col, F.lit("duplicate").alias("_reason"))
    )
    staged = (
        staged.join(dup.withColumnRenamed("_reason", "_dup_reason"), id_col, "left")
        .withColumn("_reason", F.coalesce("_reason", "_dup_reason"))
        .drop("_dup_reason")
    )

    # stage 4 (opt-in): near-dup clusters among survivors
    if near_dup:
        alive = staged.filter(F.col("_reason").isNull()).select(id_col, text_col)
        toks = F.array_distinct(tokens_of(text_col))
        # Banding is a TUNING surface, not a constant: k/bands set the
        # LSH collision threshold t = (1/bands)^(bands/k) -- the default
        # 16/8 gives t~0.35 (right for the est-jaccard lane's 0.5 gate),
        # but a caller verifying at an exact threshold of 0.9 on a
        # template-dense corpus (boilerplate pages; the 31-token fixture
        # vocabulary) over-generates candidates quadratically with the
        # 0.35 curve -- measured: the sf1r scaling fixture's 33k distinct
        # token sets at pairwise j~0.5 made the banded join enumerate
        # ~O(n^2) pairs and stall the whole cascade in one broadcast
        # build. Threshold-matched banding (bands=2 -> t~0.917 for 0.9)
        # collapses that to the true near-dup band. Defaults unchanged
        # so existing callers' plans and outputs are bit-identical.
        if near_dup_exact_jaccard is not None:
            cand = minhash_verified_edges(
                alive, id_col, toks, threshold=near_dup_exact_jaccard,
                k=near_dup_k, bands=near_dup_bands,
            ).withColumnRenamed("src", "doc_a").withColumnRenamed("dst", "doc_b")
        else:
            cand = minhash_candidates(
                alive, id_col, toks, k=near_dup_k, bands=near_dup_bands
            ).filter(F.col("est_jaccard") >= near_dup_est_jaccard)
        comp = connected_components(cand, "doc_a", "doc_b")
        near = (
            comp.filter(F.col("node") != F.col("component"))
            .select(
                F.col("node").alias(id_col),
                F.lit("near_duplicate").alias("_nd_reason"),
            )
        )
        staged = (
            staged.join(near, id_col, "left")
            .withColumn("_reason", F.coalesce("_reason", "_nd_reason"))
            .drop("_nd_reason")
        )

    # stage 5 (opt-in): image-modality perceptual keep-one among survivors
    if image_payload_col is not None:
        from .operators.multimodal import ahash_ppm, phash_components

        alive_img = docs.join(
            staged.filter(F.col("_reason").isNull()).select(id_col),
            id_col,
            "left_semi",
        ).select(id_col, image_payload_col)
        bands = image_bands
        if bands is None:
            # smallest divisor of bits that exceeds the radius keeps the
            # per-band width (and thus candidate fan-out) maximal while
            # preserving the pigeonhole recall guarantee
            bands = next(
                (b for b in range(image_hamming_radius + 1,
                                  image_hash_bits + 1)
                 if image_hash_bits % b == 0),
                None,
            )
            if bands is None:
                raise ValueError(
                    f"no band count divides image_hash_bits="
                    f"{image_hash_bits} and exceeds image_hamming_radius="
                    f"{image_hamming_radius}; pass compatible knobs"
                )
        hashes = ahash_ppm(alive_img, id_col, image_payload_col,
                           bits=image_hash_bits)
        comp = phash_components(
            hashes, bits=image_hash_bits, radius=image_hamming_radius,
            bands=bands,
        )
        labeled = hashes.join(comp, "phash").select(
            F.col("id").alias("_img_id"), "component"
        )
        keep_img = labeled.groupBy("component").agg(
            F.min("_img_id").alias("_img_keep")
        )
        img_drop = (
            labeled.join(keep_img, "component")
            .filter(F.col("_img_id") != F.col("_img_keep"))
            .select(
                F.col("_img_id").alias(id_col),
                F.lit("image_near_duplicate").alias("_img_reason"),
            )
        )
        staged = (
            staged.join(img_drop, id_col, "left")
            .withColumn("_reason", F.coalesce("_reason", "_img_reason"))
            .drop("_img_reason")
        )

    # stage 6 (opt-in): embedding-space eval decontamination among
    # survivors. semantic_decontaminate clusters the FULL embedding
    # relation (train + eval together -- a paraphrase pair must share a
    # cell) and returns surviving train ids; the contaminated set is
    # its complement among the docs still alive here.
    if embeddings is not None and eval_ids is not None:
        from .operators.similarity import semantic_decontaminate

        survivors_emb = semantic_decontaminate(
            embeddings,
            eval_ids,
            k=contamination_k,
            threshold=contamination_threshold,
        ).select(F.col("vec_id").alias(id_col))
        ev_keyed = eval_ids.select(
            F.col(eval_ids.columns[0]).alias(id_col)
        )
        alive = staged.filter(F.col("_reason").isNull()).select(id_col)
        # Eval members present in `docs` drop with their own reason:
        # 'they gate, they don't flow' means the eval suite itself must
        # never ship in the curated training corpus (r13 review -- the
        # first cut anti-joined eval out of the contaminated set and
        # thereby KEPT eval rows in `kept`, the literal leakage this
        # stage exists to remove).
        eval_members = alive.join(ev_keyed, id_col, "left_semi").select(
            id_col, F.lit("eval_member").alias("_ct_reason")
        )
        contaminated = (
            alive
            # only docs the embedding relation covers can be judged --
            # a doc with no embedding passes this stage untouched
            .join(
                embeddings.select(F.col("vec_id").alias(id_col)),
                id_col,
                "left_semi",
            )
            # not an eval doc and not a surviving train doc => dropped
            # by the decontaminator
            .join(survivors_emb, id_col, "left_anti")
            .join(ev_keyed, id_col, "left_anti")
            .select(id_col, F.lit("contaminated").alias("_ct_reason"))
        )
        staged = (
            staged.join(
                eval_members.unionByName(contaminated), id_col, "left"
            )
            .withColumn("_reason", F.coalesce("_reason", "_ct_reason"))
            .drop("_ct_reason")
        )

    # stage 7 (opt-in): domain balancing among survivors
    if docs_per_source is not None:
        w = Window.partitionBy(source_col).orderBy(
            F.md5(id_.cast("string")), id_
        )
        over = (
            staged.filter(F.col("_reason").isNull())
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > docs_per_source)
            .select(id_col, F.lit("domain_capped").alias("_dc_reason"))
        )
        staged = (
            staged.join(over, id_col, "left")
            .withColumn("_reason", F.coalesce("_reason", "_dc_reason"))
            .drop("_dc_reason")
        )

    # The three outputs share one (id, reason) verdict: pinned once, so a
    # caller that materializes all three runs the cascade once, not three
    # times. SPARK_GRAFT_PIN_STORAGE=none keeps full lineage instead.
    verdict = staged.select(id_col, "_reason").transform(pin_corpus)
    kept = docs.join(
        verdict.filter(F.col("_reason").isNull()).select(id_col),
        id_col,
        "left_semi",
    )
    dropped = verdict.filter(F.col("_reason").isNotNull()).select(
        id_col, F.col("_reason").alias("reason")
    )
    stats = (
        verdict.select(F.coalesce("_reason", F.lit("kept")).alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return kept, dropped, stats
