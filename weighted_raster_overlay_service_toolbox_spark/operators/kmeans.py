"""Deterministic Lloyd's k-means over an embedding column -- the
engine's iterative-algorithm pattern.

Each iteration is two Catalyst plans: (1) assignment -- candidates join a
BROADCAST of k centroids, argmin by squared distance with cluster-id
tiebreak; (2) update -- posexplode + (cluster, dim)-keyed EXACT mean:
inputs are quantized to 1e-6-granular integers once at entry, so the
centroid numerator is a commutative LONG sum, immune to double
summation-order nondeterminism across partitionings AND engines (a raw
``avg(double)`` depends on partial-aggregation order, which Spark does
not pin run-to-run -- quantization is what makes "deterministic k-means"
actually true, and what lets the 3-iteration run carry an exact DuckDB
oracle as unrolled SQL). Distances use the expanded identity
``|v|^2 - 2 v.c + |c|^2`` with sequential-fold dot products so both
engines evaluate the identical float expression.

Determinism: init from the k lowest vec_ids (no random), distance ties
break toward the lower cluster id.

Scale: per iteration, one broadcast (k*dim doubles -- tiny) and one
shuffle keyed by (cluster, dim). ``localCheckpoint`` truncates lineage so
the plan does not grow per iteration (the classic iterative-algorithm
trap on Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import duck_round
from .similarity import dot_expr
from pyspark.sql.functions import broadcast

_Q = 1_000_000  # quantization denominator: 1e-6 embedding granularity


def quantize_vec(e) -> F.Column:
    """Snap each component to the 1e-6 grid (round half away from zero in
    both engines). ``round(x*1e6)/1e6`` -- the double result is the same
    bit pattern in Spark and DuckDB because both divide the same exact
    integer by the same constant."""
    e = F.col(e) if isinstance(e, str) else e
    return F.transform(e, lambda x: duck_round(x * _Q) / F.lit(float(_Q)))


def assign_clusters(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, e) x (cluster, ce) -> (vec_id, e, cluster) by nearest
    centroid, cluster-id tiebreak.

    Distances use the expanded identity |v|^2 - 2 v.c + |c|^2 with
    sequential dots (similarity.dot_expr -- DuckDB's list_dot_product
    order), NOT a fold of squared diffs: the identity is what the oracle
    replicates. r8: |v|^2 and |c|^2 are computed ONCE per vector /
    centroid BEFORE the k-way join instead of per (vector, centroid)
    pair -- bit-identical arithmetic (same sub-expressions, same
    association), 3x fewer dots on the hot path.

    r14 (optimization round, guide section 2.4 "remove shuffles
    outright"): assignment is now a PURE MAP. The k centroids collapse
    to ONE packed row -- array_sort(collect_list(struct(cluster, ce,
    |c|^2))), deterministic because cluster ids are unique -- which
    broadcasts, and the argmin runs as array expressions per vector:
    transform over the k structs building (d2, cluster), then
    array_min's lexicographic struct ordering, which is the SAME
    (d2, cluster) ordering the old groupBy(vec_id).agg(min(struct))
    computed. The old shape fanned every vector k ways through a
    broadcast join, then shuffled all k copies -- payload array
    included -- through a vec_id exchange just to argmin them back
    down; at 100 TB that exchange moves k copies of the corpus. Now
    the corpus never shuffles for assignment at all (A/B at sf0.1:
    3-iteration loop 2.45 s -> 2.02 s warm, identical assignments)."""
    packed = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cluster").alias("cluster"),
                    F.col("ce").alias("ce"),
                    dot_expr("ce", "ce").alias("cc"),
                )
            )
        ).alias("_cents")
    )
    v = vectors.withColumn("_vv", dot_expr("e", "e")).crossJoin(
        broadcast(packed)
    )
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (
                F.col("_vv") - 2 * dot_expr(F.col("e"), c["ce"]) + c["cc"]
            ).alias("d2"),
            c["cluster"].alias("cluster"),
        ),
    )
    best = F.array_min(scored)
    return v.select("vec_id", "e", best["cluster"].alias("cluster"))


def update_centroids(assigned: DataFrame) -> DataFrame:
    """(vec_id, e, cluster) -> (cluster, ce): per-dimension EXACT mean --
    long sum of the 1e-6-quantized components / count / 1e6 -- re-packed
    into an ordered array."""
    flat = assigned.select(
        "cluster", F.posexplode("e").alias("pos", "val")
    ).select(
        "cluster", "pos", duck_round(F.col("val") * _Q).cast("long").alias("v6")
    )
    dims = flat.groupBy("cluster", "pos").agg(
        (F.sum("v6") / F.count(F.lit(1)) / F.lit(float(_Q))).alias("mean_val")
    )
    return dims.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("ce")
    )


def kmeans(
    vectors: DataFrame, k: int = 8, iterations: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Run Lloyd's algorithm; returns (assignments, centroids).

    ``vectors``: ``vec_id long, e array<double>`` (quantized to the 1e-6
    grid at entry). Init = the k lowest vec_ids (deterministic; callers
    wanting k-means++ can pass their own loop).

    r14 (optimization round, guide section 1.2 "the distributed
    algorithm first"): the loop is LAZY. Centroid relations are k rows;
    eagerly localCheckpointing them each iteration forced one
    materialized job per iteration (3 iterations = 4 sequential job
    round-trips before the caller's plan even ran -- the pagerank
    checkpoint-cadence lesson, PLANS.md round 13). The unrolled
    dataflow is bounded (depth = iterations, each centroid subtree
    broadcast-built exactly once inside the consumer's job), so the
    whole run now executes inside the caller's single action. A
    cadence pin (every 4 iterations, non-eager -- pagerank's default)
    keeps long-iteration callers' plans from growing without bound.
    A/B at sf0.1 (min-of-3, same session): eager 3.25 s -> lazy 2.45 s
    -> lazy+map-assign 2.02 s, assignments identical. Checkpointing
    never affects values, only lineage.

    The QUANTIZED vector relation is lazy-pinned once (r14 second pass):
    unpinned, the unrolled loop references it per iteration, so the
    final plan re-scans the source and re-evaluates the quantize
    transform iterations+1 times, and Catalyst's projection collapse
    re-substitutes the quantize expression into every downstream
    reference of ``e`` (driver-side analysis measured ~3 s per
    construction at 64 dims). The pin is one scan + quantize, stored,
    and a flat leaf for analysis; construct+materialize A/B at sf0.1:
    q_semantic_dedup 6.2 -> 5.8 s, q_semantic_decontaminate 3.7 ->
    2.8 s. Values are untouched.
    """
    vectors = vectors.select(
        "vec_id", quantize_vec("e").alias("e")
    ).localCheckpoint(eager=False)
    centroids = vectors.orderBy("vec_id").limit(k).select(
        F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
        F.col("e").alias("ce"),
    )
    assigned = None
    for it in range(iterations):
        if it + 1 == iterations:
            # non-eager pin of the LAST assignment's centroid input: a
            # caller consuming both returned relations (assignments AND
            # post-update centroids) otherwise re-runs the whole loop
            # once per consumer -- the pin bounds the shared-prefix
            # recompute to one final map-assign pass. Costs nothing
            # when never materialized (lazy).
            centroids = centroids.localCheckpoint(eager=False)
        assigned = assign_clusters(vectors, centroids)
        centroids = update_centroids(assigned)
        if (it + 1) % 4 == 0 and it + 1 < iterations:
            centroids = centroids.localCheckpoint(eager=False)
    return assigned, centroids


def kmeans_grouped_codebook_assign(
    vectors: DataFrame, k: int = 16, iterations: int = 3, group: str = "m"
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's over INDEPENDENT groups trained JOINTLY, returning
    ``(codes, codebook)`` where ``codebook`` is EXACTLY the centroid set
    that produced the final assignment (c_{iterations-1}), not the
    post-assignment update :func:`kmeans` returns.

    Two contracts in one:

    - **Encode contract** (product quantization): ADC reconstructs a
      database vector as the centroid of its code, so the lookup
      codebook MUST be the one the encoder assigned against -- an
      off-by-one-update codebook silently biases every distance.
    - **Joint training**: G independent per-group runs would serialize
      G * iterations Spark jobs (measured: 4 subspace codebooks = 12
      sequential assignment/update rounds, ~9-17 s at sf0.1); here each
      iteration is ONE broadcast of all G*k centroids + ONE
      (group, cluster, dim)-keyed shuffle for every group at once.
      Bit-identical to the sequential runs: groups are disjoint keys,
      and every expression (1e-6 quantized inputs, expanded-identity
      distances with hoisted self-dots, exact long-sum means,
      cluster-id tiebreak) is the :func:`kmeans` arithmetic verbatim --
      which is why the per-group unrolled-CTE oracle chains still
      cover the result exactly.

    ``vectors``: ``vec_id long, {group} int, e array<double>``. Init =
    per group, the k lowest vec_ids (cluster numbered 1..k in vec_id
    order -- identical to a per-group :func:`kmeans` init).
    """
    # lazy pin of the quantized melt -- the kmeans() rationale verbatim
    # (one scan + quantize shared by every unrolled iteration, flat
    # analysis leaf); values untouched.
    #
    # r15 (guide section 2.5 "input skew: repartition immediately after
    # the read"): the melt is key-repartitioned BEFORE the pin. The
    # whole training is map-only on the assignment side -- no operator
    # between the source scan and the per-row argmin ever redistributes
    # -- so the pinned layout IS the compute parallelism for every
    # assignment pass, and a single-file fixture scan (1 partition at
    # every test SF; measured: rdd.getNumPartitions() == 1) serialized
    # all G*k interpreted candidate evaluations on one core. One tiny
    # keyed exchange of the byte-small melt (pin_parallelism: exempt
    # from AQE coalescing, count follows the session's shuffle
    # partitions) buys 3 parallel passes. Paired A/B (same session,
    # alternating, 16x64 config, train + materialize): 7.1-8.1 s ->
    # 2.6-2.9 s, codes and centroids bit-identical (exceptAll == 0 both
    # directions). The UNGROUPED kmeans() deliberately does NOT get
    # this: at k=8 over unmelted rows its per-pass work is ~1/40th, and
    # the same A/B measured the added exchange as a small consistent
    # LOSS there (q_kmeans 1.8 -> 2.1 s).
    from ..plans.pinning import pin_parallelism

    vectors = pin_parallelism(
        vectors.select("vec_id", group, quantize_vec("e").alias("e")),
        "vec_id",
        group,
    ).localCheckpoint(eager=False)
    wg = Window.partitionBy(group).orderBy("vec_id")
    centroids = vectors.withColumn("_rn", F.row_number().over(wg)).filter(
        F.col("_rn") <= k
    ).select(group, F.col("_rn").alias("cluster"), F.col("e").alias("ce"))

    def _assign_groups(cent: DataFrame) -> DataFrame:
        # r14 (same map-form rewrite as assign_clusters): the full G*k
        # codebook (64 structs for the PQ configuration) collapses to
        # ONE packed row -- deterministic order by (group, cluster) --
        # and per melted row the argmin runs over the row's own group's
        # slice via filter + transform + array_min. The old shape
        # broadcast-joined the codebook (fan x k per row) and shuffled
        # every copy, sub-vector payload included, through a
        # (vec_id, group) exchange; now the melt never shuffles for
        # assignment. Same expanded-identity arithmetic, same
        # (d2, cluster) lexicographic argmin -- bit-identical codes.
        # INVARIANT (ADVICE r14): every group in `vectors` must keep at
        # least one centroid in `cent`, or array_min over the empty
        # group slice returns a silent NULL cluster where the old
        # broadcast join dropped the row. Holds by construction here
        # (init keeps the k lowest vec_ids PER GROUP and Lloyd's updates
        # never empty a group's codebook); re-check before reusing this
        # helper against an external or sparser codebook.
        #
        # r15 (guide section 4.1 "higher-order functions are
        # interpreted"): the packed codebook is a MAP keyed by group,
        # not one flat G*k struct array. The old flat form ran
        # F.filter(_cents, c -> c.g == group) PER MELTED ROW -- an
        # interpreted scan of all G*k structs (1024 at the IVFPQ
        # config) that allocated a fresh k-slice per row; element_at
        # on a G-key map is a G-step key probe (16 vs 1024 interpreted
        # evals per row). Per-group order is unchanged (array_sort by
        # unique cluster id == the old global (g, cluster) sort
        # restricted to the group), so codes and centroids are
        # bit-identical -- verified by exceptAll at both PQ configs.
        # Paired A/B (same session, alternating, 3-iteration train +
        # materialize, sf0.1): 16x64 codebook 14.7-23.4s -> 8.7-11.6s;
        # 4x16 flat. (Unrolling the sub-dim dot was also tried and is
        # SLOWER at sub=16 -- the r8 dot_expr dead-end note holds.)
        per_g = cent.groupBy(group).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cluster").alias("cluster"),
                        F.col("ce").alias("ce"),
                        dot_expr("ce", "ce").alias("cc"),
                    )
                )
            ).alias("_gc")
        )
        packed = per_g.agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(group).alias("g"), F.col("_gc").alias("cs")
                        )
                    )
                )
            ).alias("_cmap")
        )
        v = vectors.withColumn("_vv", dot_expr("e", "e")).crossJoin(
            broadcast(packed)
        )
        mine = F.element_at(F.col("_cmap"), F.col(group))
        scored = F.transform(
            mine,
            lambda c: F.struct(
                (
                    F.col("_vv")
                    - 2 * dot_expr(F.col("e"), c["ce"])
                    + c["cc"]
                ).alias("d2"),
                c["cluster"].alias("cluster"),
            ),
        )
        best = F.array_min(scored)
        return v.select("vec_id", group, "e", best["cluster"].alias("cluster"))

    for _ in range(iterations - 1):
        assigned = _assign_groups(centroids)
        flat = assigned.select(
            group, "cluster", F.posexplode("e").alias("pos", "val")
        ).select(
            group,
            "cluster",
            "pos",
            duck_round(F.col("val") * _Q).cast("long").alias("v6"),
        )
        dims = flat.groupBy(group, "cluster", "pos").agg(
            (F.sum("v6") / F.count(F.lit(1)) / F.lit(float(_Q))).alias(
                "mean_val"
            )
        )
        # r14: lazy loop (the kmeans() rationale) -- centroid relations
        # are G*k rows; the eager per-iteration pin serialized one job
        # per iteration for no lineage benefit at bounded iterations.
        centroids = dims.groupBy(group, "cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("ce")
        )
    # non-eager pin of the final codebook: the returned pair's consumers
    # (ann_index build: codes + codebook write + frozen-residual pass;
    # the PQ training memo) each reference this chain -- the pin makes
    # the Lloyd's prefix compute once, shared, without forcing a job.
    centroids = centroids.localCheckpoint(eager=False)
    return _assign_groups(centroids), centroids
