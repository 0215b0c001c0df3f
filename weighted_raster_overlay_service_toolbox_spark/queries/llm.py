"""LLM-data-pipeline queries (SURVEY.md section 2.2 north-star extensions):
deduplication, similarity search, text analysis, multimodal columns over
the ``documents`` / ``embeddings`` fixture tables.

No anchor in the reference (it has no text pipeline); these are the
training-data operators a 100 TB corpus needs, built Spark-first:

- everything token-level is ``split``/``explode``/``groupBy`` -- JVM-side,
  map-side partial aggregation, no Python in the hot path;
- MinHash / SimHash use ``xxhash64`` with literal seeds -- deterministic
  across partitionings because min/sum are commutative;
- the LSH band trick and the IVF-style bucketed ANN bound the candidate
  set so the quadratic pair space is never materialized at scale (the
  exact q_jaccard_sim / q_cosine_topk keep small probe sets and exist as
  ground truth for the approximate variants);
- multimodal payloads are opaque binary + typed metadata; decode is a
  REAL pure-Python P6 PPM parser behind Arrow-batched ``mapInPandas``
  (operators/multimodal.py), verified against independently computed
  ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.pinning import pin_corpus, pin_parallelism

from ..functions.langmix import LANG_MIX_ORACLE
from ..functions.rounding import duck_round
from pyspark.sql.functions import broadcast

from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_candidates,
    minhash_verified_edges,
    simhash_near_pairs,
    simhash_signatures,
)
from ..operators.graph import connected_components
from ..operators.multimodal import decode_ppm_features, ppm_payload
from ..operators.similarity import (
    cosine_scores,
    dot_expr,
    hyperplane_bucket,
    topk_per_probe,
    with_norm,
)
from ..operators.text import fingerprint, tfidf
from ..sources import load_table

_dot = dot_expr
from .registry import query

def TOKS():
    """Tokenization convention for the documents fixture (clean
    space-separated lowercase tokens -- FIXTURES.md); one definition used
    everywhere. A function because building a Column requires an active
    SparkContext (test collection imports this module without one)."""
    return F.split("text", " ")

# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text)      AS text_hash,
           MIN(doc_id)    AS keep_id,
           COUNT(*)       AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text, keep lowest doc_id.

    Scale: one shuffle on the 128-bit hash (uniform keys, no skew);
    map-side partial MIN/COUNT. At 100 TB hash first, never shuffle the
    full text."""
    return exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
               ' ')) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash of the canonicalized (sorted distinct)
    token set -- catches reordered/duplicated-token copies that exact
    dedup misses. Pure column expressions, no shuffle before the hash."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


@query(
    "q_jaccard_sim",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(ROUND(CAST(i.n_common AS DOUBLE)
                / (sa.n + sb.n - i.n_common), 4) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) > 0
    """,
)
def q_jaccard_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard on distinct-token sets (doc_id<50 probe set;
    ground truth for q_dedup_minhash).

    Scale: operators/dedup.py jaccard_pairs -- the explode/self-join
    computes |A∩B| only for pairs sharing a token (sparse, shuffle keyed
    by token). Token-frequency skew ("the") is the known hazard; at
    100 TB pass ``max_token_df`` (the hot-token posting-list cap, off
    here so the exact probe matches its oracle) or switch to the MinHash
    path."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # one corpus scan: the exploded token projection feeds both sides of
    # the self-join (and the size table) through a non-eager checkpoint
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(TOKS())).alias("tok")
    ).transform(pin_corpus)
    return jaccard_pairs(toks).select(
        "doc_a", "doc_b", duck_round("jaccard", 4).cast("double").alias("jaccard")
    )


def _minhash_oracle() -> str:
    """DuckDB oracle for q_dedup_minhash: the md5-60-bit base hash mod
    2^31-1, then the 16 affine universal-hash lanes with the SAME
    md5-derived (a, b) literals the Spark side uses
    (operators/dedup.py minhash_affine_consts)."""
    from ..operators.dedup import minhash_affine_consts

    lanes = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_affine_consts(16))
    )
    return f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 200
    ),
    bh AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
                   % 2147483647 AS h
        FROM t
    ),
    hs AS (
        SELECT doc_id, s.seed, MIN((s.a * bh.h + s.b) % 2147483647) AS mh
        FROM bh CROSS JOIN (
            SELECT * FROM (VALUES {lanes}) AS lanes(seed, a, b)
        ) s
        GROUP BY doc_id, s.seed
    ),
    bandvals AS (
        SELECT doc_id, seed // 2 AS band_idx,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
        FROM hs GROUP BY doc_id, seed // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandvals a JOIN bandvals b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(ROUND(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) / 16.0, 4)
                AS DOUBLE) AS est_jaccard
    FROM cand c
    JOIN hs ha ON ha.doc_id = c.doc_a
    JOIN hs hb ON hb.doc_id = c.doc_b AND hb.seed = ha.seed
    GROUP BY c.doc_a, c.doc_b
    HAVING SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) / 16.0 >= 0.25
    """


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash + LSH banding (fixed seeds).

    tokens -> 16 min-hashes -> 8 bands of 2 -> band-hash bucket join ->
    candidate pairs, est-filtered (exact verify is the
    minhash_verified_edges / q_dedup_clusters path).

    Oracle-exact: ONE md5-60-bit base hash per token, then 16 affine
    universal-hash lanes (a_i*h + b_i mod 2^31-1, the datasketch-style
    construction; operators/dedup.py minhash_signature_from_base) -- the
    oracle rebuilds every signature from the same literals. The BAND hash
    stays xxhash64: it only defines join buckets (the oracle joins on the
    slice values directly) and never reaches the output. The xxhash64
    token path stays the scale default for non-oracle callers
    (minhash_verified_edges, curate_corpus).

    Scale: never forms the quadratic pair space -- the shuffle is keyed by
    (band_idx, band_hash) and only same-bucket pairs are joined; estimated
    similarity then filters before the (expensive) exact verify."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # 8 bands of 2: LSH threshold ~(1/8)^(1/2) ~ 0.35, so truly-similar
    # pairs (j >= 0.8) are recalled with probability ~1 -- 4 bands of 4
    # misses a third of j=0.7 pairs (1-(1-0.7^4)^4 = 0.67).
    cand = minhash_candidates(
        d, "doc_id", F.array_distinct(TOKS()), k=16, bands=8, portable=True
    )
    return cand.filter(F.col("est_jaccard") >= 0.25)


@query(
    "q_simhash",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 100
    ),
    h AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
        FROM t
    ),
    votes AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                        ELSE 0 END) AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, simhash, b.band_idx,
               (simhash >> (b.band_idx * 15)) & 32767 AS band_val
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup: per-token portable hash, each bit votes
    +/-1, sign of the vote is the signature bit; pairs at hamming
    distance <= 3 among doc_id<100 are near-dup candidates.

    Oracle-exact: the token hash is the md5-60-bit portable hash
    (operators/dedup.py portable_hash60) so the DuckDB oracle rebuilds
    the identical signatures, bands, and pair set; the xxhash64/64-bit
    path stays the library default for scale callers.

    Scale: signature build is explode + groupBy(doc, bit) + bit-pack --
    two shuffles on uniform keys. Pairing is a banded equi-join on 4
    contiguous 15-bit signature slices (pigeonhole: hamming<=3 differing
    bits cannot touch all 4 bands, so recall is exact); the shuffle keys
    by (band_idx, band_val) and no all-pairs join exists in the plan
    (pinned in tests/test_plans.py)."""
    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sigs = simhash_signatures(
        d, "doc_id", F.array_distinct(TOKS()), hash_fn=portable_hash60, nbits=60
    )
    return simhash_near_pairs(sigs, max_hamming=3, nbits=60)


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH g AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest([substring(text, i, 3)
                           for i in range(1, length(text) - 1)]) AS sh
            FROM documents WHERE doc_id < 30
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(ROUND(CAST(i.n_common AS DOUBLE)
                / (sa.n + sb.n - i.n_common), 4) AS DOUBLE) AS trigram_jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard (shingle dedup; doc_id<30 probe set).

    Same sparse join shape as q_jaccard_sim but on character shingles --
    the classic n-gram near-dup (operators/dedup.py jaccard_pairs; the
    hot-shingle cap is available there for corpus scale). The >=0.5
    filter keeps only near-dups."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    g = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substring(text, i, 3)").alias("sh"))
        .distinct()
        .transform(pin_corpus)  # one scan feeds both self-join sides
    )
    return (
        jaccard_pairs(g, tok_col="sh")
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            duck_round("jaccard", 4).cast("double").alias("trigram_jaccard"),
        )
    )


# Recursive transitive-closure CTE chain over the exact-Jaccard >= 0.9
# near-dup edges of the doc_id<500 probe block -- shared by the
# q_dedup_clusters oracle and the q_split_leakage_safe oracle (the split
# must agree with the SAME cluster definition, so they share one SQL
# constant rather than risking drift, the functions/langmix.py lesson).
_CLUSTERS_CC_CTES = """
    WITH RECURSIVE
    t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT i.doc_a AS src, i.doc_b AS dst
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.9
    ),
    sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst, src FROM edges
        UNION SELECT doc_id, doc_id FROM documents WHERE doc_id < 500
    ),
    walk(node, lbl) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT w.node, s.dst FROM walk w JOIN sym s ON w.lbl = s.src
    ),
    comp AS (
        SELECT node AS doc_id, MIN(lbl) AS component
        FROM walk GROUP BY node
    )"""


@query(
    "q_dedup_clusters",
    oracle=_CLUSTERS_CC_CTES + "\n    SELECT doc_id, component FROM comp",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH candidate pairs, exact-verified at
    token-Jaccard >= 0.9 (doc_id<500 probe block), merged into connected
    components; component = MIN doc_id reachable, the canonical keep-one
    key. Pairs alone over-delete when similarity is non-transitive (A~B,
    B~C, A!~C); clustering is the missing half of every dedup pipeline.

    Scale -- the executed plan IS the 100 TB plan: candidate edges come
    from banded MinHash-LSH (operators/dedup.py minhash_candidates; the
    only shuffle keys by (band_idx, band_hash) and the quadratic pair
    space never materializes -- pinned in tests/test_plans.py), exact
    Jaccard runs ONLY on the candidate pairs as per-pair array-intersect
    JVM exprs, and clustering is size-adaptive (operators/graph.py):
    union-find on the driver for an edge list under its threshold,
    otherwise large-star / small-star rounds of node-keyed shuffles over
    the edge list. Recall: 8 bands of 2 means a
    j=0.9 pair is missed only if all 8 band slices disagree, p ~
    (1-0.81)^8 ~ 2e-6; the exact-verify step makes precision 1.0, and
    tests/test_llm_ops.py asserts candidates cover every j>=0.9 pair on
    the fixtures. The DuckDB oracle is the recursive-CTE transitive
    closure over exact-Jaccard edges, tractable only because the probe
    set is bounded; the Spark side never materializes reachability."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # no candidate_floor: A/B at sf0.1 (3 reps, min-of-3 end-to-end incl.
    # the CC rounds) -- floor=None 3.69s, floor=0.25 3.82s, floor=0.45
    # 3.50s: within run noise, because fixture docs are short enough that
    # exact array_intersect verify costs less than materializing
    # est_jaccard per collision row, and the wall clock was dominated by
    # per-round job overhead in the components' distributed rounds (they
    # now run on the driver at this size). Long-document corpora flip
    # that trade -- the knob stays on the operator.
    edges = minhash_verified_edges(
        d, "doc_id", F.array_distinct(TOKS()), threshold=0.9, k=16, bands=8
    )
    # bounded probe set (doc_id<500): the edge list is metadata-sized, so
    # it clusters on the driver; should it ever exceed the driver
    # threshold, the rounds run on few partitions -- per-task overhead,
    # not data, dominates. An unbounded corpus caller leaves the default.
    comp = connected_components(edges, "src", "dst", num_partitions=8)
    return d.select(F.col("doc_id").cast("long").alias("doc_id")).join(
        comp, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


# --------------------------------------------------------------------------
# similarity search over embeddings
# --------------------------------------------------------------------------


@query(
    "q_cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    p AS (SELECT * FROM v WHERE vec_id < 25),
    s AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               CAST(ROUND(list_dot_product(p.e, c.e)
                    / (sqrt(list_dot_product(p.e, p.e))
                       * sqrt(list_dot_product(c.e, c.e))), 4) AS DOUBLE) AS sim
        FROM p JOIN v c ON c.vec_id <> p.vec_id
    ),
    r AS (
        SELECT probe_id, cand_id, sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM s
    )
    SELECT probe_id, cand_id, sim, CAST(rn AS INT) AS rk
    FROM r WHERE rn <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per probe (vec_id<25) -- the exact ANN
    baseline. Rank on the ROUNDED similarity with cand_id tiebreak so the
    selection is cross-engine deterministic.

    Scale: probes broadcast (tiny), candidates stream -- no shuffle of the
    candidate side; per-partition partial top-k then a final merge (the
    window over probe_id partitions is the merge). The pair dot uses the
    SEQUENTIAL fold (bulk=False): the rounded sim decides top-k
    membership, and the r8 knife-edge sweep measured one fixture sim
    9e-11 from a 4dp boundary -- inside einsum summation-order drift, so
    only the fold (bit-matching DuckDB's list_dot_product) makes the
    selection provably engine-stable; dot_pandas remains the documented
    bulk-rescoring path."""
    # norms are computed ONCE per vector (not per pair): at N probes x M
    # candidates that is N+M norm evaluations instead of 2*N*M.
    v = with_norm(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    p = v.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    return topk_per_probe(cosine_scores(v, p, bulk=False), k=5)


def _ann_ivf_oracle() -> str:
    """DuckDB oracle for q_ann_ivf, with the 4 hyperplanes inlined as
    double literals: the planes are deterministic md5-derived constants
    (operators/similarity.py _plane), so the oracle recomputes the exact
    sign buckets, the 5-bucket multi-probe set, and the rank-on
    (rounded sim DESC, cand_id) top-5 -- the "approximate" algorithm is
    still a pure function of its inputs."""
    from ..operators.similarity import _plane

    lits = [
        "[" + ", ".join(repr(x) for x in _plane(64, s)) + "]" for s in range(4)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lits[i]}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    vb AS (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
               {bucket} AS bucket
        FROM v
    ),
    p AS (
        SELECT vec_id AS probe_id, e AS pe, nrm AS pnrm, bucket AS pb
        FROM vb WHERE vec_id < 25
    ),
    j AS (
        SELECT p.probe_id, c.vec_id AS cand_id,
               CAST(ROUND(list_dot_product(p.pe, c.e) / (p.pnrm * c.nrm), 4)
                    AS DOUBLE) AS sim
        FROM vb c JOIN p
          ON c.vec_id <> p.probe_id
         AND c.bucket IN (p.pb, xor(p.pb, 1), xor(p.pb, 2),
                          xor(p.pb, 4), xor(p.pb, 8))
    ),
    r AS (
        SELECT probe_id, cand_id, sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rk
        FROM j
    )
    SELECT probe_id, cand_id, sim, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 5
    """


@query("q_ann_ivf", oracle=_ann_ivf_oracle())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed approximate nearest neighbor: 4 seeded hyperplanes
    partition vectors into 16 sign buckets; each probe (vec_id<25) searches
    ONLY its own bucket -- the scale path where brute force is quadratic.

    Oracle-exact despite being "approximate": the hyperplanes are
    deterministic constants, so the bucket assignment and top-5 selection
    are pure functions the DuckDB oracle reproduces (planes inlined as
    literals; rank on rounded sim with cand_id tiebreak).

    Scale: the bucket id is a plain column -> the search is an equi-join
    on bucket (shuffle keyed by bucket, or broadcast of tiny probe set);
    partition pruning by bucket works on a bucket-partitioned layout."""
    vb = with_norm(
        hyperplane_bucket(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            )
        )
    )
    # multi-probe: search the probe's own bucket plus its 4 hamming-1
    # neighbor buckets (one sign flip per plane) -- the standard IVF
    # recall fix; the candidate set stays 5/16 of the space and the join
    # stays bucket-keyed.
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(4)],
    )
    p = vb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        probe_buckets.alias("pbs"),
        F.col("nrm").alias("pnrm"),
    )
    joined = vb.join(
        broadcast(p),
        F.array_contains(F.col("pbs"), F.col("bucket"))
        & (F.col("vec_id") != F.col("probe_id")),
    )
    sim = duck_round(
        dot_expr(F.col("pe"), F.col("e")) / (F.col("pnrm") * F.col("nrm")), 4
    ).cast("double")
    scored = joined.select(
        "probe_id", F.col("vec_id").alias("cand_id"), sim.alias("sim")
    )
    return topk_per_probe(scored, k=5)


@query(
    "q_embed_near_dup",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE vec_id < 200)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(ROUND(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))), 4) AS DOUBLE) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.35
    """,
)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.35, vec_id<200 block;
    the threshold sits inside the fixture's similarity range so the
    query returns a non-trivial pair set at every SF).

    The ROUNDED cosine GATES pair membership, so the dot runs through
    ``dot_expr`` (sequential fold, bit-matching DuckDB's
    list_dot_product): a last-ulp summation-order difference at a .xxxx5
    boundary would add/remove a pair (ADVICE r7; the einsum path stays
    the documented bulk-rescoring option where the score is not a gate).

    Scale: this bounded block is the verify stage; candidate generation at
    100 TB is q_ann_ivf's bucket join, never the full cross product."""
    from ..operators.similarity import dot_expr

    v = with_norm(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = duck_round(
        dot_expr(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
    ).cast("double")
    return (
        a.join(broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.35)
        .select("vec_a", "vec_b", "cosine")
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


@query(
    "q_text_tokenize",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 200
    """,
)
def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize to one row per (doc, token) occurrence (doc_id<200)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", F.explode(TOKS()).alias("token"))


@query(
    "q_text_top_terms",
    oracle="""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, COUNT(*) AS n
    FROM t GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms, count desc with token tiebreak.

    Scale: explode -> groupBy(token) benefits from map-side partial
    aggregation; the final top-k is a TakeOrdered, not a full sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TOKS()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS INT)                                        AS n_bpe_ish,
           CAST(len(string_split(text, ' ')) AS INT)           AS n_ws
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single other chars)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "n_bpe_ish"
        ),
        F.size(TOKS()).alias("n_ws"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT)                              AS n_toks,
           CAST(ROUND(CAST(n_chars AS DOUBLE) / len(toks), 4)
                AS DOUBLE)                                     AS avg_tok_len,
           CAST(ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                / len(toks), 4) AS DOUBLE)                     AS type_token_ratio,
           len(toks) >= 5                                      AS long_enough
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, type-token ratio, and a
    keep/drop flag -- the standard corpus-filter features."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(TOKS())
    return d.select(
        "doc_id",
        n.alias("n_toks"),
        duck_round(F.col("n_chars").cast("double") / n, 4).cast("double").alias("avg_tok_len"),
        duck_round(F.size(F.array_distinct(TOKS())).cast("double") / n, 4)
        .cast("double")
        .alias("type_token_ratio"),
        (n >= 5).alias("long_enough"),
    )


#: tiny seeded marker lexicons for the language-ID heuristic (defined
#: before q_quality_classifier, which reuses the EN lexicon).
_EN_MARKERS = ["the", "of", "and", "order", "key", "scan"]
_ES_MARKERS = ["el", "la", "de", "orden", "clave"]

#: "pretrained" linear quality-classifier coefficients (fastText/DCLM-
#: style model-based filtering reduced to its inference arithmetic):
#: bias + weights for (ln(1+n_toks), avg_tok_len, type_token_ratio,
#: marker_ratio), fixed literals so both engines evaluate the identical
#: expression -- a real deployment broadcasts a learned weight vector,
#: the plan is the same.
_QC_BIAS = -3.09  # centers the fixture z distribution on the 0.5 cut,
#                   so keep/drop actually SPLITS at every SF (a
#                   classifier that keeps 100% would exercise nothing)
_QC_W = (0.35, 0.12, 1.6, 2.2)


def qc_oracle_cte() -> str:
    """Shared DuckDB CTE chain (t -> f -> z) for the quality-classifier
    score, interpolated from the SAME constants
    (_QC_BIAS/_QC_W/_EN_MARKERS) the Spark expression uses. Both the
    batch oracle (q_quality_classifier) and the ingest-time oracle
    (q_stream_quality_filter, queries/streaming.py) are built from this
    one string, so a future weight tweak cannot silently desynchronize
    them (ADVICE r7). Consumers append their own final SELECT over z."""
    return f"""
    WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
               FROM documents),
    f AS (
        SELECT doc_id,
               ln(1 + len(toks))                                  AS x1,
               CAST(n_chars AS DOUBLE) / len(toks)                AS x2,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                   / len(toks)                                    AS x3,
               CAST(len(list_filter(toks,
                    t -> list_contains({_EN_MARKERS!r}, t))) AS DOUBLE)
                   / len(toks)                                    AS x4
        FROM t
    ),
    z AS (
        SELECT doc_id,
               {_QC_BIAS} + {_QC_W[0]} * x1 + {_QC_W[1]} * x2
                          + {_QC_W[2]} * x3 + {_QC_W[3]} * x4 AS z
        FROM f
    )
    """


def quality_classifier_score() -> "F.Column":
    """The rounded-4dp sigmoid quality score as a pure column expression
    over (text, n_chars) -- shared verbatim by q_quality_classifier
    (batch) and q_stream_quality_filter (ingest-time), so the two paths
    are the SAME function of the row, not two implementations."""
    n = F.size(TOKS())
    x1 = F.log(F.lit(1.0) + n)
    x2 = F.col("n_chars").cast("double") / n
    x3 = F.size(F.array_distinct(TOKS())).cast("double") / n
    markers = F.array(*[F.lit(m) for m in _EN_MARKERS])
    x4 = (
        F.size(F.filter(TOKS(), lambda t: F.array_contains(markers, t))).cast(
            "double"
        )
        / n
    )
    z = (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W[0]) * x1
        + F.lit(_QC_W[1]) * x2
        + F.lit(_QC_W[2]) * x3
        + F.lit(_QC_W[3]) * x4
    )
    return duck_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)


@query(
    "q_quality_classifier",
    oracle=qc_oracle_cte()
    + """
    SELECT doc_id,
           CAST(ROUND(1.0 / (1.0 + exp(-z)), 4) AS DOUBLE) AS score,
           ROUND(1.0 / (1.0 + exp(-z)), 4) >= 0.5          AS keep
    FROM z
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality filtering (round 7): the classifier-inference
    stage modern corpus pipelines run after heuristic filters (fastText
    in CCNet, the DCLM/fineweb-edu quality classifiers) -- a linear
    model over cheap text features, sigmoid score, keep at 0.5. The
    weights here are fixed literals standing in for a trained model;
    a deployment swaps them for a broadcast weight vector (the plan
    shape is identical: narrow per-row arithmetic, no shuffle at all).

    Features, in the exact evaluation order both engines share:
    ln(1+n_toks), avg token length, type-token ratio, and the
    marker-lexicon hit ratio (the q_lang_id lexicon reused as a
    stopword-density proxy). The threshold compares the ROUNDED-4dp
    sigmoid on both engines, so the keep/drop cut is insensitive to
    last-ulp exp() differences between libms -- the same insulation
    the cosine and tfidf conventions use.

    Scale: fully narrow (one projection, zero exchanges) -- this is
    the cheapest stage of the whole pipeline and the first one to run
    after decoding, exactly because it prunes the corpus before any
    shuffle-bearing stage sees it."""
    d = load_table(spark, sf_dir, "documents")
    score = quality_classifier_score()
    return d.select(
        "doc_id",
        score.cast("double").alias("score"),
        (score >= 0.5).alias("keep"),
    )


@query(
    "q_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(ROUND(CAST(len(list_filter(toks,
                t -> list_contains({_EN_MARKERS!r}, t))) AS DOUBLE)
                / len(toks), 4) AS DOUBLE) AS en_score,
           CAST(ROUND(CAST(len(list_filter(toks,
                t -> list_contains({_ES_MARKERS!r}, t))) AS DOUBLE)
                / len(toks), 4) AS DOUBLE) AS es_score,
           CASE WHEN len(list_filter(toks, t -> list_contains({_ES_MARKERS!r}, t)))
                     > len(list_filter(toks, t -> list_contains({_EN_MARKERS!r}, t)))
                THEN 'es' ELSE 'en' END AS pred_lang
    FROM t
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit ratio per language, argmax
    with 'en' tiebreak. (Fixture text is synthetic; the operator shape --
    per-doc lexicon scoring in pure column exprs -- is the point.)"""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(TOKS())

    def score(markers: list[str]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(TOKS(), lambda t: F.array_contains(arr, t)))

    en, es = score(_EN_MARKERS), score(_ES_MARKERS)
    return d.select(
        "doc_id",
        duck_round(en.cast("double") / n, 4).cast("double").alias("en_score"),
        duck_round(es.cast("double") / n, 4).cast("double").alias("es_score"),
        F.when(es > en, "es").otherwise("en").alias("pred_lang"),
    )


@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf,
           CAST(ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4)
                AS DOUBLE) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.doc_id < 100
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over the corpus (output restricted to doc_id<100; DF/N always
    computed over the FULL corpus).

    Scale: two token-keyed aggregations + a token-keyed join; df is tiny
    (vocabulary-sized) so it broadcasts; n_docs is a scalar cross join."""
    d = load_table(spark, sf_dir, "documents")
    return tfidf(d, "doc_id").filter(F.col("doc_id") < 100)


# --------------------------------------------------------------------------
# multimodal columns
# --------------------------------------------------------------------------


@query(
    "q_multimodal_struct",
    oracle="""
    SELECT doc_id,
           md5(text) AS payload_md5,
           '{"mime":"text/plain","n_bytes":' || n_chars
               || ',"checksum":"' || md5(text)
               || '","lang":"' || lang || '"}' AS meta_json,
           array_to_string(
               list_transform(
                   range(0, least(len(string_split(text, ' ')), 3)),
                   j -> j || ':' || string_split(text, ' ')[j + 1]),
               '|') AS frames_str
    FROM documents
    """,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column model: opaque binary payload + typed metadata
    struct + per-"frame" array -- the schema/plumbing for image/audio
    pipelines. The payload here is the doc text as bytes; see
    q_multimodal_decode for the real PPM decoder.

    The typed columns (binary payload, metadata struct, frame array)
    are built natively, then serialized at the query boundary
    (md5 / to_json / joined string) so the driver can hash the output
    -- the same convention as every array-emitting query (the r4
    canonicalizer lesson). to_json renders struct fields in declaration
    order with no whitespace, which the oracle reproduces by concat;
    the fixture has no nulls so no field is ever omitted."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.col("n_chars").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
        F.col("lang").alias("lang"),
    )
    frames = F.transform(
        F.sequence(F.lit(0), F.least(F.size(TOKS()) - 1, F.lit(2))),
        lambda i: F.struct(
            i.alias("frame_idx"), F.element_at(TOKS(), i + 1).alias("frame_tok")
        ),
    )
    return d.select(
        "doc_id",
        F.md5(payload).alias("payload_md5"),
        F.to_json(meta).alias("meta_json"),
        F.array_join(
            F.transform(
                frames,
                lambda fr: F.concat(
                    fr["frame_idx"].cast("string"), F.lit(":"), fr["frame_tok"]
                ),
            ),
            "|",
        ).alias("frames_str"),
    )


@query(
    "q_multimodal_decode",
    oracle="""
    WITH r AS (
        SELECT doc_id,
               CAST((doc_id % 6) + 2 AS INTEGER) AS w,
               CAST((doc_id % 4) + 2 AS INTEGER) AS h,
               rpad(text,
                    CAST(((doc_id % 6) + 2) * ((doc_id % 4) + 2) * 3 AS INTEGER),
                    'pixel') AS raster
        FROM documents
    ),
    b AS (
        SELECT doc_id, raster,
               unnest(range(0, CAST(w * h * 3 AS INTEGER))) AS j
        FROM r
    ),
    m AS (
        SELECT doc_id,
               CAST(ROUND(AVG(CASE WHEN j % 3 = 0
                    THEN ord(substring(raster, j + 1, 1)) END), 6) AS DOUBLE)
                   AS mean_r,
               CAST(ROUND(AVG(CASE WHEN j % 3 = 1
                    THEN ord(substring(raster, j + 1, 1)) END), 6) AS DOUBLE)
                   AS mean_g,
               CAST(ROUND(AVG(CASE WHEN j % 3 = 2
                    THEN ord(substring(raster, j + 1, 1)) END), 6) AS DOUBLE)
                   AS mean_b
        FROM b GROUP BY doc_id
    )
    SELECT r.doc_id AS id, r.w AS width, r.h AS height,
           CAST(255 AS INTEGER) AS maxval,
           m.mean_r, m.mean_g, m.mean_b,
           md5(r.raster) AS checksum
    FROM r JOIN m ON m.doc_id = r.doc_id
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode over mapInPandas: each document becomes a valid
    binary P6 PPM image (real header + text-derived raster bytes, built
    as pure JVM exprs -- operators/multimodal.py ppm_payload), then the
    pure-Python PPM parser decodes width/height/maxval, per-channel
    means, and the raster checksum. Arrow-batched, one output row per
    input; a corrupt payload raises, it does not fake a row.

    Oracle-exact (promoted r5): the fixture encoder is deterministic, so
    the oracle ANALYTICALLY reconstructs what a correct parse must return
    -- dimensions from the generator formulas, channel means by striding
    the reconstructed raster, checksum as md5 of the same bytes. The
    Spark side still runs the real binary parse; the oracle is an
    independent reconstruction, which is exactly what makes the parse
    falsifiable. (Channel means are integer-sum / count, and no fixture
    raster length can place a mean on a 6-decimal rounding midpoint, so
    the rounded doubles agree bit-for-bit.)

    The payload ENCODER is fixture plumbing (this container ships no
    image files); the DECODER is a real parser of a real format, and
    tests/test_multimodal.py checks its output against independently
    computed ground truth. Swap parse_ppm's body for PIL and nothing
    Spark-side changes."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select("doc_id", ppm_payload("w", "h", "text").alias("payload"))
    return decode_ppm_features(payloads, "doc_id", "payload")


@query(
    "q_multimodal_resize",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               CAST((doc_id % 6) + 2 AS INTEGER) AS w,
               CAST((doc_id % 4) + 2 AS INTEGER) AS h,
               CASE WHEN GREATEST((doc_id % 6) + 2, (doc_id % 4) + 2) <= 4
                    THEN 1.0
                    ELSE 4.0 / GREATEST((doc_id % 6) + 2, (doc_id % 4) + 2)
               END AS sc
        FROM documents
    )
    SELECT doc_id AS id,
           CAST(ROUND(w * sc) AS INTEGER) AS width,
           CAST(ROUND(h * sc) AS INTEGER) AS height,
           CAST(ROUND(sc, 6) AS DOUBLE) AS scale
    FROM s
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning (longest side -> 4): dimensions
    come from the REAL header parse of each binary payload
    (operators/multimodal.py resize); the oracle reconstructs the
    expected geometry analytically from the fixture encoder. One output
    row per input, Arrow-batched, no shuffle. (No fixture dimension
    lands a half-integer product, so Python and SQL rounding agree.)"""
    from ..operators.multimodal import resize

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select("doc_id", ppm_payload("w", "h", "text").alias("payload"))
    return resize(payloads, "doc_id", "payload", max_side=4)


@query(
    "q_multimodal_phash_dedup",
    oracle="""
    WITH r AS (
        SELECT doc_id,
               CAST((doc_id % 6) + 2 AS INTEGER) AS w,
               CAST((doc_id % 4) + 2 AS INTEGER) AS h,
               rpad(text,
                    CAST(((doc_id % 6) + 2) * ((doc_id % 4) + 2) * 3 AS INTEGER),
                    'pixel') AS raster
        FROM documents
    ),
    px AS (
        SELECT doc_id, w * h AS n,
               unnest(range(0, CAST(w * h AS INTEGER))) AS i
        FROM r
    ),
    g AS (
        SELECT px.doc_id, px.n, px.i,
               CAST(ord(substring(r.raster, 3 * px.i + 1, 1))
                  + ord(substring(r.raster, 3 * px.i + 2, 1))
                  + ord(substring(r.raster, 3 * px.i + 3, 1)) AS BIGINT)
                   AS gray,
               (px.i * 16) // px.n AS blk
        FROM px JOIN r ON r.doc_id = px.doc_id
    ),
    blocks AS (
        SELECT doc_id, n, blk,
               CAST(SUM(gray) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_j
        FROM g GROUP BY doc_id, n, blk
    ),
    totals AS (
        SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS total FROM g
        GROUP BY doc_id
    ),
    hashes AS (
        SELECT b.doc_id,
               CAST(SUM(CASE WHEN b.s * b.n >= t.total * b.n_j
                             THEN 1 << CAST(b.blk AS INTEGER)
                             ELSE 0 END) AS INTEGER) AS phash
        FROM blocks b JOIN totals t ON t.doc_id = b.doc_id
        GROUP BY b.doc_id
    )
    SELECT phash, MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY phash
    """,
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (round 11): average-hash each binary
    PPM payload (operators/multimodal.py ahash_ppm -- grayscale, 16
    contiguous pixel blocks, threshold-at-the-mean, one bit per block,
    all integer-exact), then keep one document per hash -- the
    image-side sibling of q_dedup_exact (byte-identical dups) and
    q_dedup_minhash (text near-dups): re-encoded or brightness-shifted
    copies of an image hash together even when their BYTES differ, which
    is why every multimodal training pipeline dedups on a perceptual
    hash, not a checksum.

    Oracle-exact: the fixture encoder is deterministic, so DuckDB
    reconstructs the raster analytically (the q_multimodal_decode
    pattern) and replays the hash with the same cross-multiplied
    integer mean comparison -- no float, no rounding anywhere. The
    Spark side still runs the REAL binary parse over Arrow-batched
    mapInPandas.

    Scale: hashing is narrow (no shuffle, bytes cross to Python once
    per Arrow batch); the dedup is one hash-keyed groupBy with map-side
    partials -- the q_dedup_exact plan over a 16-bit key. A
    Hamming-tolerant variant bands the hash bits (the MinHash band
    trick verbatim) and stays equi-join-shaped."""
    from ..operators.multimodal import ahash_ppm

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select(
        "doc_id", ppm_payload("w", "h", "text").alias("payload")
    )
    hashes = ahash_ppm(payloads, "doc_id", "payload", bits=16)
    return hashes.groupBy("phash").agg(
        F.min("id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "q_multimodal_phash_near_dup",
    oracle="""
    WITH r AS (
        SELECT doc_id,
               CAST((doc_id % 6) + 2 AS INTEGER) AS w,
               CAST((doc_id % 4) + 2 AS INTEGER) AS h,
               rpad(text,
                    CAST(((doc_id % 6) + 2) * ((doc_id % 4) + 2) * 3 AS INTEGER),
                    'pixel') AS raster
        FROM documents WHERE doc_id < 300
    ),
    px AS (
        SELECT doc_id, w * h AS n,
               unnest(range(0, CAST(w * h AS INTEGER))) AS i
        FROM r
    ),
    g AS (
        SELECT px.doc_id, px.n, px.i,
               CAST(ord(substring(r.raster, 3 * px.i + 1, 1))
                  + ord(substring(r.raster, 3 * px.i + 2, 1))
                  + ord(substring(r.raster, 3 * px.i + 3, 1)) AS BIGINT)
                   AS gray,
               (px.i * 16) // px.n AS blk
        FROM px JOIN r ON r.doc_id = px.doc_id
    ),
    blocks AS (
        SELECT doc_id, n, blk,
               CAST(SUM(gray) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_j
        FROM g GROUP BY doc_id, n, blk
    ),
    totals AS (
        SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS total FROM g
        GROUP BY doc_id
    ),
    hashes AS (
        SELECT b.doc_id,
               CAST(SUM(CASE WHEN b.s * b.n >= t.total * b.n_j
                             THEN 1 << CAST(b.blk AS INTEGER)
                             ELSE 0 END) AS INTEGER) AS phash
        FROM blocks b JOIN totals t ON t.doc_id = b.doc_id
        GROUP BY b.doc_id
    ),
    bands AS (
        SELECT doc_id, phash, bd.k AS band_idx,
               (phash >> (4 * bd.k)) & 15 AS band_val
        FROM hashes CROSS JOIN (SELECT unnest(range(0, 4)) AS k) bd
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.phash AS pa, b.phash AS pb
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(pa, pb)) <= 3
    """,
)
def q_multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded perceptual near-dup pairs (round 11) -- the
    approximate companion q_multimodal_phash_dedup's docstring promises:
    images whose aHashes differ in <= 3 of 16 bits are near-variants
    (small crops, noise, mild re-grades move a few coarse-brightness
    bits, not many), and the 4-band x 4-bit LSH split finds EVERY such
    pair without a quadratic self-join: <= 3 differing bits can touch at
    most 3 bands, so at least one band matches exactly -- banding is
    LOSSLESS for this radius (the pigeonhole argument, the same one that
    sizes MinHash bands), unlike the probabilistic MinHash regime. The
    exact Hamming gate then runs ONLY on band-collision candidates.

    Oracle-exact: hashes replay analytically (the q_multimodal_phash_dedup
    CTEs); bands/XOR/bit_count are integer ops both engines evaluate
    identically.

    Scale: the pair space is banded (equi-join on (band_idx, band_val),
    never doc x doc); the hash relation is pinned (non-eager
    localCheckpoint) so the Python decode runs ONCE, not once per join
    side -- the banded-LSH convention (r6 lesson). Verification is
    bit_count(xor) -- whole-stage codegen, no Python. The registry form
    runs a BOUNDED doc_id<300 block (the q_embed_near_dup convention):
    the fixture's tiny text-derived rasters make ham<=3 genuinely dense
    (~8 percent of ALL pairs qualify at sf0.01 -- measured before the
    bound, 977k pairs at sf0.1), so an unbounded pair LISTING is
    output-quadratic on this data by construction; real image corpora
    are hash-diffuse, and the production composition is this banded
    join feeding a keep-one gate (linear output), not a pair dump."""
    from ..operators.multimodal import ahash_ppm

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    ).select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select(
        "doc_id", ppm_payload("w", "h", "text").alias("payload")
    )
    hashes = pin_corpus(ahash_ppm(payloads, "doc_id", "payload", bits=16))
    bands = hashes.select(
        "id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band_idx"),
                    F.shiftright("phash", 4 * k).bitwiseAND(F.lit(15))
                    .alias("band_val"),
                )
                for k in range(4)
            ])
        ).alias("b"),
    ).select("id", "phash", "b.band_idx", "b.band_val")
    a = bands.select(
        F.col("id").alias("doc_a"), F.col("phash").alias("pa"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("id").alias("doc_b"), F.col("phash").alias("pb"),
        "band_idx", "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
    )
    ham = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "q_multimodal_phash_keep_one",
    oracle="""
    WITH RECURSIVE
    r AS (
        SELECT doc_id,
               CAST((doc_id % 6) + 2 AS INTEGER) AS w,
               CAST((doc_id % 4) + 2 AS INTEGER) AS h,
               rpad(text,
                    CAST(((doc_id % 6) + 2) * ((doc_id % 4) + 2) * 3 AS INTEGER),
                    'pixel') AS raster
        FROM documents
    ),
    px AS (
        SELECT doc_id, w * h AS n,
               unnest(range(0, CAST(w * h AS INTEGER))) AS i
        FROM r
    ),
    g AS (
        SELECT px.doc_id, px.n, px.i,
               CAST(ord(substring(r.raster, 3 * px.i + 1, 1))
                  + ord(substring(r.raster, 3 * px.i + 2, 1))
                  + ord(substring(r.raster, 3 * px.i + 3, 1)) AS BIGINT)
                   AS gray,
               (px.i * 16) // px.n AS blk
        FROM px JOIN r ON r.doc_id = px.doc_id
    ),
    blocks AS (
        SELECT doc_id, n, blk,
               CAST(SUM(gray) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_j
        FROM g GROUP BY doc_id, n, blk
    ),
    totals AS (
        SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS total FROM g
        GROUP BY doc_id
    ),
    hashes AS (
        SELECT b.doc_id,
               CAST(SUM(CASE WHEN b.s * b.n >= t.total * b.n_j
                             THEN 1 << CAST(b.blk AS INTEGER)
                             ELSE 0 END) AS INTEGER) AS phash
        FROM blocks b JOIN totals t ON t.doc_id = b.doc_id
        GROUP BY b.doc_id
    ),
    hgroups AS (
        SELECT phash, MIN(doc_id) AS rep_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM hashes GROUP BY phash
    ),
    hedges AS (
        SELECT a.phash AS src, b.phash AS dst
        FROM hgroups a JOIN hgroups b ON a.phash < b.phash
        WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ),
    sym AS (
        SELECT src, dst FROM hedges
        UNION SELECT dst, src FROM hedges
        UNION SELECT phash, phash FROM hgroups
    ),
    walk(node, lbl) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT w.node, s.dst FROM walk w JOIN sym s ON w.lbl = s.src
    ),
    comp AS (
        SELECT node AS phash, MIN(lbl) AS component
        FROM walk GROUP BY node
    )
    SELECT CAST(MIN(g.rep_id) AS BIGINT) AS survivor,
           CAST(SUM(g.n_docs) AS BIGINT) AS n_variants,
           CAST(COUNT(*) AS BIGINT) AS n_hashes
    FROM hgroups g JOIN comp c ON c.phash = g.phash
    GROUP BY c.component
    """,
)
def q_multimodal_phash_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup KEEP-ONE (round 12, VERDICT r11 #2) -- the
    production composition q_multimodal_phash_near_dup's docstring
    promised: banded Hamming candidates feeding a canonical-survivor
    gate, LINEAR output, **unbounded** (no doc_id block): one row per
    near-dup image family -- (survivor = min doc_id, n_variants = docs
    absorbed, n_hashes = distinct aHashes merged).

    The trick that makes it linear END TO END (work, not just output):
    collapse to DISTINCT hashes FIRST. The corpus-sized relation is
    touched exactly twice, both linearly -- the Arrow mapInPandas aHash
    pass and one hash-keyed groupBy (the q_dedup_exact plan) producing
    (phash, rep_id = min doc_id, n_docs). Everything quadratic-looking
    then runs on the HASH UNIVERSE, which a 16-bit aHash caps at 2^16
    rows and a 64-bit production hash caps at |distinct hashes| -- a
    function of image DIVERSITY, never corpus size (the same
    novelty-not-volume law as the streaming dedup index). Banded
    equi-join (4 bands x 4 bits, lossless at radius <= 3 by pigeonhole)
    proposes hash pairs, bit_count(xor) <= 3 gates them exactly, and
    connected components (operators/graph.py) merge transitive
    families over the hash-edge list. The
    doc_id<300 bound the pair-LISTING row needs is gone precisely
    because no doc-level pair is ever materialized: the fixture's
    ham<=3 density (49 percent of all doc pairs at sf0.1) costs nothing
    when pairs live between 2.4k distinct hashes instead of 5k docs.

    Oracle: the q_multimodal_phash_dedup analytic hash replay +
    pairwise distinct-hash edges + the q_dedup_clusters recursive
    transitive closure, tractable in DuckDB because the hash universe
    is small; the Spark side never materializes reachability.

    100 TB: hash pass linear (bytes cross to Python once per Arrow
    batch); one corpus shuffle (hash groupBy, map-side partials); the
    CC rounds shuffle only the hash-edge list. Image-modality stage of
    pipeline.curate_corpus.
    """
    from ..operators.multimodal import ahash_ppm, phash_components

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select(
        "doc_id", ppm_payload("w", "h", "text").alias("payload")
    )
    hashes = ahash_ppm(payloads, "doc_id", "payload", bits=16)
    # corpus -> hash universe: the ONLY corpus-sized shuffle in the query
    hgroups = pin_corpus(
        hashes.groupBy("phash").agg(
            F.min("id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    # hash-universe CC: edge list is <= |hashes| x 697 (radius-3 ball of
    # a 16-bit hash) -- 1.35M edges at sf1r, past the driver threshold,
    # so it is not metadata-sized. Driver union-find below the
    # threshold; above it, bound the per-round task count.
    comp = phash_components(
        hgroups, bits=16, radius=3, bands=4, num_partitions=8
    ).withColumnRenamed("phash", "c_phash")
    labeled = hgroups.join(
        comp, hgroups["phash"] == comp["c_phash"]
    ).select("component", "rep_id", "n_docs")
    return labeled.groupBy("component").agg(
        F.min("rep_id").cast("long").alias("survivor"),
        F.sum("n_docs").cast("long").alias("n_variants"),
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
    ).drop("component")


@query(
    "q_multimodal_framesample",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               'P6' || chr(10)
               || CAST((doc_id % 6) + 2 AS VARCHAR) || ' '
               || CAST((doc_id % 4) + 2 AS VARCHAR) || chr(10)
               || '255' || chr(10)
               || rpad(text,
                       CAST(((doc_id % 6) + 2) * ((doc_id % 4) + 2) * 3
                            AS INTEGER),
                       'pixel') AS payload
        FROM documents
    ),
    f AS (
        SELECT doc_id, payload,
               unnest(range(0, CAST(ceil(length(payload) / 64.0) AS INTEGER)))
                   AS k
        FROM p
    )
    SELECT doc_id AS id,
           CAST(k AS INTEGER) AS frame_idx,
           CAST(k * 64 AS BIGINT) AS byte_offset,
           md5(substring(payload, k * 64 + 1, 64)) AS frame_checksum
    FROM f
    """,
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: one output row per 64-byte
    "frame" (the video-frame-extraction row shape -- N rows per input via
    mapInPandas, operators/multimodal.py frame_sample). The oracle
    rebuilds the identical payload bytes in SQL (ASCII fixture corpus, so
    character ops == byte ops) and hashes the same windows."""
    from ..operators.multimodal import frame_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 6) + 2).cast("int").alias("w"),
        ((F.col("doc_id") % 4) + 2).cast("int").alias("h"),
    )
    payloads = d.select("doc_id", ppm_payload("w", "h", "text").alias("payload"))
    return frame_sample(payloads, "doc_id", "payload", every_n_bytes=64)


@query(
    "q_multimodal_audio_features",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               CAST((doc_id % 50) + 10 AS INTEGER) AS n,
               rpad(text, CAST((doc_id % 50) + 10 AS INTEGER), 'audio')
                   AS pcm
        FROM documents
    ),
    px AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM s),
    g AS (
        SELECT px.doc_id, px.n,
               ord(substring(s.pcm, px.i + 1, 1)) AS amp
        FROM px JOIN s ON s.doc_id = px.doc_id
    )
    SELECT doc_id AS id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST(CAST(SUM(amp) AS BIGINT) / n AS DOUBLE) AS mean_amp,
           CAST(MAX(amp) AS INTEGER) AS peak_amp
    FROM g GROUP BY doc_id, n
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO decode + feature extraction (round 12): the audio member of
    the multimodal decode family -- image is q_multimodal_decode (P6
    PPM), video-frame extraction is q_multimodal_framesample; this row
    completes the triple. The corpus's text derives a REAL RIFF/WAVE
    container per document (operators/multimodal.py wav_payload:
    struct-packed little-endian chunks, canonical 16-byte fmt, 8-bit
    mono PCM at 8 kHz -- any standard reader parses these bytes), which
    then crosses the engine as an OPAQUE binary column and is decoded by
    a REAL validating parser (parse_wav: magic / fmt-size / PCM code /
    channel / bit-depth / data-length checks, ValueError on any
    mismatch) extracting (sample_rate, n_samples, mean_amp, peak_amp).

    Oracle exactness: the fixture encoder is deterministic and the
    samples are the first n bytes of rpad(text, n, 'audio') (ASCII
    corpus => character ops == byte ops), so DuckDB reconstructs the PCM
    analytically and replays the aggregates -- uint8 samples summed as
    BIGINT, the mean one BIGINT/INT division both engines evaluate as
    the same IEEE double, peak an integer MAX. The WAV container bytes
    themselves are exercised Spark-side only (encode -> binary column ->
    parse), which is the point: the oracle checks the FEATURES, the unit
    tests check the CONTAINER (roundtrip + malformed rejection).

    Scale: two Arrow mapInPandas passes (encode seam, decode), both
    narrow -- no shuffle until the driver's comparator sorts; in
    production the encode seam disappears (payloads come from storage)
    and the decode parser body swaps for librosa/ffmpeg with IDENTICAL
    Spark plumbing (schema, batch shape, one-row-per-input contract)."""
    from ..operators.multimodal import audio_features, wav_payload

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 50) + 10).cast("int").alias("n"),
    )
    payloads = wav_payload(d, "doc_id", "n", "text", sample_rate=8000)
    return audio_features(payloads, "id", "payload")


@query(
    "q_multimodal_scene_change",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               CAST(((doc_id % 7) + 4) * 64 AS INTEGER) AS n,
               rpad(text, CAST(((doc_id % 7) + 4) * 64 AS INTEGER),
                    'video') AS stream
        FROM documents
    ),
    j AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
    sums AS (
        SELECT j.doc_id, CAST(j.i // 64 AS INTEGER) AS k,
               CAST(SUM(ord(substring(p.stream, j.i + 1, 1))) AS BIGINT)
                   AS sig
        FROM j JOIN p ON p.doc_id = j.doc_id
        GROUP BY j.doc_id, j.i // 64
    ),
    s AS (
        SELECT doc_id, k, sig,
               lag(sig) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        FROM sums
    )
    SELECT doc_id AS id, CAST(k AS INTEGER) AS frame_idx,
           CAST(abs(sig - prev) AS BIGINT) AS delta
    FROM s WHERE prev IS NOT NULL AND abs(sig - prev) > 200
    """,
)
def q_multimodal_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CHANGE (cut) detection over a frame stream (round 12) --
    the analytics layer on top of q_multimodal_framesample's extraction
    shape: each document derives a raw byte stream of 4-10 exact
    64-byte "frames" (the opaque-video convention: a production
    pipeline feeds real decoded frames through the identical plumbing),
    every frame gets an integer byte-sum signature
    (operators/multimodal.py frame_signatures, Arrow mapInPandas), and
    a cut is reported wherever consecutive signatures jump by more than
    200 -- (id, frame_idx, delta) per detected cut, the row a
    frame-sampling curriculum keeps (sample at cuts, skip static
    stretches -- the standard way video training data avoids
    near-identical frame floods).

    The plan split is the point: Python touches bytes ONCE (the
    signature crunch, N rows per input, no shuffle), and the detection
    is pure Catalyst -- a lag window keyed (id, frame_idx) + an integer
    threshold, whole-stage-codegen all the way. Threshold semantics are
    knife-edge-free: signatures and deltas are exact BIGINTs, the gate
    is a strict integer compare (measured at sf0.01: 25 percent of
    frame transitions qualify at T=200 -- both branches exercised).

    Oracle: the stream replays analytically (rpad byte == character on
    the ASCII corpus), per-frame sums group by i // 64, and the same
    lag/threshold runs in DuckDB SQL.

    Scale: signatures are linear in payload bytes; the only shuffle is
    the per-document window (tiny keys, bounded frames-per-doc); at
    100 TB the window partitions by (video, shard) exactly as here."""
    from ..operators.multimodal import frame_signatures

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "cast(rpad(text, ((doc_id % 7) + 4) * 64, 'video') as binary)"
        ).alias("stream"),
    )
    sigs = frame_signatures(d, "doc_id", "stream", every_n_bytes=64)
    w = Window.partitionBy("id").orderBy("frame_idx")
    delta = F.abs(F.col("sig") - F.lag("sig").over(w))
    return (
        sigs.withColumn("delta", delta.cast("long"))
        .filter(F.col("delta") > 200)
        .select("id", "frame_idx", "delta")
    )


def _kmeans_ctes(
    k: int = 8,
    iterations: int = 3,
    dim: int = 64,
    prefix: str = "",
    src_expr: str = "CAST(embedding AS DOUBLE[])",
) -> list[str]:
    """The unrolled-Lloyd's CTE chain shared by the q_kmeans,
    q_semantic_dedup, and q_ann_pq oracles; the final assignment
    relation is ``{prefix}a{iterations}`` with columns
    (vec_id, e, cluster). ``prefix`` namespaces the chain so several
    can coexist in one statement (PQ trains one per subspace);
    ``src_expr`` is the raw vector expression over ``embeddings``
    (default the full column; PQ passes a list_slice)."""
    p = prefix
    d2 = (
        f"(list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c.ce)"
        f" + list_dot_product(c.ce, c.ce))"
    )
    ctes = [
        f"{p}v AS (SELECT vec_id,"
        f" list_transform({src_expr},"
        f" x -> ROUND(x * 1000000) / 1000000.0) AS e FROM embeddings)",
        f"{p}c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cluster,"
        f" e AS ce FROM (SELECT vec_id, e FROM {p}v ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"{p}a{i} AS (SELECT vec_id, e, cluster FROM ("
            f" SELECT v.vec_id, v.e, c.cluster,"
            f" ROW_NUMBER() OVER (PARTITION BY v.vec_id"
            f" ORDER BY {d2}, c.cluster) AS rk"
            f" FROM {p}v v CROSS JOIN {p}c{i - 1} c) WHERE rk = 1)"
        )
        if i < iterations:
            ctes.append(
                f"{p}c{i} AS (SELECT cluster, list(mu ORDER BY dim) AS ce FROM ("
                f" SELECT cluster, d.j AS dim,"
                f" CAST(SUM(CAST(ROUND(e[d.j + 1] * 1000000) AS BIGINT))"
                f" AS BIGINT) / COUNT(*) / 1000000.0 AS mu"
                f" FROM {p}a{i} CROSS JOIN"
                f" (SELECT unnest(range(0, {dim})) AS j) d"
                f" GROUP BY cluster, d.j) GROUP BY cluster)"
            )
    return ctes


def _kmeans_oracle(k: int = 8, iterations: int = 3, dim: int = 64) -> str:
    """DuckDB oracle for q_kmeans: Lloyd's iterations UNROLLED as chained
    CTEs. Every arithmetic step mirrors operators/kmeans.py exactly --
    1e-6 input quantization, the expanded |v|^2 - 2 v.c + |c|^2 distance
    with sequential-fold dot products, exact long-sum centroid means --
    so the "iterative, not SQL-expressible" claim stops being true once
    the iteration count is a constant."""
    ctes = _kmeans_ctes(k, iterations, dim)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, CAST(cluster AS INTEGER) AS cluster"
        f" FROM a{iterations}"
    )


def _semantic_dedup_oracle(
    k: int = 8, iterations: int = 3, dim: int = 64, threshold: float = 0.35
) -> str:
    """DuckDB oracle for q_semantic_dedup: the shared unrolled-k-means
    CTE chain, then the auto-capped lane striping (round 9: the bounded
    path is the DEFAULT, VERDICT r8 #1), then ONE within-cluster
    same-lane self-join dropping the higher id of every pair whose
    rounded-4dp cosine reaches the threshold -- the same pair-cosine SQL
    q_embed_near_dup pins. The cap mirrors operators/similarity.py
    exactly: clamp(ceil(2 * n / k), 256, 1024) with n from a scalar
    COUNT subquery, so the oracle string stays SF-independent."""
    from ..operators.similarity import AUTO_BLOCK_MAX, AUTO_BLOCK_MIN

    ctes = _kmeans_ctes(k, iterations, dim)
    a = f"a{iterations}"
    cap = (
        f"LEAST({AUTO_BLOCK_MAX}, GREATEST({AUTO_BLOCK_MIN},"
        f" CAST(CEIL(2.0 * (SELECT COUNT(*) FROM v) / {k}) AS BIGINT)))"
    )
    ctes.append(
        f"st AS (SELECT vec_id, e, cluster,"
        f" ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn,"
        f" COUNT(*) OVER (PARTITION BY cluster) AS c_n FROM {a})"
    )
    ctes.append(
        f"ln AS (SELECT vec_id, e, cluster,"
        f" (rn - 1) % CAST(CEIL(c_n / {cap}) AS BIGINT) AS lane FROM st)"
    )
    cos = (
        "ROUND(list_dot_product(x.e, y.e)"
        " / (sqrt(list_dot_product(x.e, x.e))"
        " * sqrt(list_dot_product(y.e, y.e))), 4)"
    )
    ctes.append(
        f"dropped AS (SELECT DISTINCT y.vec_id FROM ln x JOIN ln y"
        f" ON x.cluster = y.cluster AND x.lane = y.lane"
        f" AND x.vec_id < y.vec_id"
        f" WHERE {cos} >= {threshold})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, CAST(cluster AS INTEGER) AS cluster"
        f" FROM {a} WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"
    )


def _semantic_decontaminate_oracle(
    k: int = 8, iterations: int = 3, dim: int = 64, threshold: float = 0.35
) -> str:
    """DuckDB oracle for q_semantic_decontaminate: the shared unrolled
    Lloyd's CTE chain over the FULL embeddings table, eval/train roles
    split on documents.source = 'src0' (the q_decontaminate eval-set
    convention; embeddings.vec_id and documents.doc_id share a domain),
    then ONE cluster-restricted train x eval join dropping every train
    vector whose rounded-4dp cosine against any same-cell eval member
    reaches the threshold."""
    ctes = _kmeans_ctes(k, iterations, dim)
    a = f"a{iterations}"
    cos = (
        "ROUND(list_dot_product(t.e, e.e)"
        " / (sqrt(list_dot_product(t.e, t.e))"
        " * sqrt(list_dot_product(e.e, e.e))), 4)"
    )
    ctes.append(
        "evid AS (SELECT doc_id FROM documents WHERE source = 'src0')"
    )
    ctes.append(
        f"ev AS (SELECT x.vec_id, x.e, x.cluster FROM {a} x"
        f" JOIN evid ON evid.doc_id = x.vec_id)"
    )
    ctes.append(
        f"tr AS (SELECT x.vec_id, x.e, x.cluster FROM {a} x"
        f" WHERE x.vec_id NOT IN (SELECT doc_id FROM evid))"
    )
    ctes.append(
        f"contaminated AS (SELECT DISTINCT t.vec_id FROM tr t JOIN ev e"
        f" ON t.cluster = e.cluster WHERE {cos} >= {threshold})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT vec_id, CAST(cluster AS INTEGER) AS cluster"
        " FROM tr WHERE vec_id NOT IN (SELECT vec_id FROM contaminated)"
    )


@query("q_kmeans", oracle=_kmeans_oracle())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means assignments (k=8, 3 iterations) over
    the embeddings table -- the engine's iterative-algorithm pattern
    (broadcast centroids, keyed-shuffle update, localCheckpoint lineage
    truncation; see operators/kmeans.py).

    Oracle-exact (promoted r5): inputs quantize to the 1e-6 grid, the
    centroid mean is an exact long sum / count (not a summation-order-
    dependent double avg), and distances use the expanded dot-product
    identity both engines fold in the same order -- so three unrolled
    Lloyd's iterations in DuckDB reproduce the assignments bit-for-bit.
    The quantization also fixes a latent operator nondeterminism: a raw
    avg(double) centroid depends on Spark's partial-aggregation order,
    which is not pinned across partitionings."""
    from ..operators.kmeans import kmeans

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    assigned, _ = kmeans(v, k=8, iterations=3)
    return assigned.select("vec_id", "cluster")


@query("q_semantic_dedup", oracle=_semantic_dedup_oracle())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the FULL embeddings
    table (round 7): deterministic k-means (k=8, 3 iterations -- the
    exact q_kmeans configuration) partitions the embedding space, then
    a single WITHIN-cluster self-join drops the higher id of every pair
    whose rounded cosine >= 0.35. Survivors returned as
    (vec_id, cluster). This is the BULK semantic-dedup path the
    pipeline runs at scale -- q_embed_near_dup is its bounded all-pairs
    ground truth, exactly as q_dedup_minhash's banded path pairs with
    q_jaccard_sim.

    Scale (round 9 -- the BOUNDED path is now the registry default,
    VERDICT r8 #1): the pair space is ~n^2/(2k) instead of n^2/2, and
    the default ``max_block="auto"`` cap -- clamp(ceil(2n/k), 256, 1024)
    from a one-row occupancy census -- stripes any cluster above 2x
    balanced occupancy into bounded lanes, making total pair work
    <= n * 1024 / 2, LINEAR in n (the r8 sf1 run measured the uncapped
    form at 14.8x on 10x data; a fixed cap restored ~linear 4.6x).
    Norms are precomputed per vector and no all-pairs product ever
    forms (operators/similarity.py semantic_dedup). Uncapped is the
    explicit ``max_block=None`` opt-in for recall-critical corpora.

    Oracle-exact: the clustering inherits q_kmeans' integer-exact
    unrolled-CTE replay, and the pair cosine uses the rounded-4dp
    convention q_embed_near_dup pins -- so a greedy clustered dedup,
    nominally "iterative and approximate", is hash-checked exactly."""
    from ..operators.similarity import semantic_dedup

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return semantic_dedup(v, k=8, iterations=3, threshold=0.35, max_block="auto")


@query("q_semantic_decontaminate", oracle=_semantic_decontaminate_oracle())
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination (round 13, VERDICT r12
    #7): q_semantic_dedup's cluster-then-compare machinery with
    train-vs-eval asymmetric roles. The eval suite is the src0 document
    slice (the q_decontaminate convention); every train vector whose
    rounded cosine against ANY same-cell eval member reaches 0.35 is
    dropped, and the surviving train rows return as (vec_id, cluster).

    This closes the contamination family's semantic gap: q_contamination
    / q_decontaminate catch verbatim and shingled overlap, but a
    PARAPHRASED eval answer shares no 16-gram with its source -- in
    embedding space it still lands next to the original, inside the same
    k-means cell (clustering runs over train AND eval together, so a
    pair within threshold is also a pair the cell partition keeps
    together at fixture scale's occupancy).

    Scale: pair work is |train-cell| x |eval-cell| with the eval side
    broadcast -- the eval suite is benchmark-sized by construction, so
    the compare is linear in the corpus; no lane cap needed (the bounded
    side caps per-row fan-out, the ANN probe-join argument). Threshold
    0.35 matches the registry's semantic-dedup setting so both branches
    are exercised at every fixture SF; production paraphrase gates run
    tighter (0.9+) against real encoder geometry.

    Oracle-exact: unrolled Lloyd's CTEs + one cluster-restricted
    train x eval join (the same integer-exact k-means replay and
    rounded-4dp fold-order cosine convention as q_semantic_dedup)."""
    from ..operators.similarity import semantic_decontaminate

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return semantic_decontaminate(v, ev, k=8, iterations=3, threshold=0.35)


@query(
    "q_text_normalize",
    oracle="""
    WITH raw AS (
        SELECT p_partkey,
               p_name || '!!  ' || p_brand || ' (' || p_type || ')' AS messy
        FROM part
    )
    SELECT p_partkey, messy,
           trim(regexp_replace(regexp_replace(lower(messy),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))        AS clean,
           array_to_string(
               string_split(trim(regexp_replace(regexp_replace(lower(messy),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
               '|')                                              AS clean_toks
    FROM raw
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pipeline: lowercase -> strip non-alphanumerics
    -> squeeze whitespace -> tokenize (the standard pre-dedup cleanup;
    messy input synthesized deterministically from part strings). The
    token array is '|'-joined in the output -- the driver canonicalizer
    cannot hash list cells -- which still pins the split boundaries."""
    p = load_table(spark, sf_dir, "part")
    messy = F.concat(
        F.col("p_name"), F.lit("!!  "), F.col("p_brand"),
        F.lit(" ("), F.col("p_type"), F.lit(")"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(messy), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return p.select(
        "p_partkey",
        messy.alias("messy"),
        clean.alias("clean"),
        F.array_join(F.split(clean, " "), "|").alias("clean_toks"),
    )


@query(
    "q_repetition_ratio",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    g AS (
        SELECT doc_id,
               unnest([array_to_string(l[i+1:i+3], ' ')
                       for i in range(0, len(l) - 2)]) AS gram
        FROM t
    ),
    cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(MAX(c) AS INT)                          AS top_ngram_count,
           CAST(SUM(c) AS INT)                          AS n_ngrams,
           CAST(ROUND(MAX(c) / SUM(c), 4) AS DOUBLE)    AS top_ngram_share
    FROM cnt GROUP BY doc_id
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the share of each doc's
    word trigrams taken by its most-repeated trigram -- boilerplate and
    degenerate generated text score high and get filtered before
    training. One row expression per document (operators/text.py
    with_repetition): no shuffle. Docs under 3 tokens yield no row on
    either engine; the oracle groups by ``doc_id``, which is unique in
    every fixture."""
    from ..operators.text import repetition_features

    return repetition_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=3
    )


@query(
    "q_pii_scrub",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name || ' acct ' || CAST(c_custkey AS VARCHAR)
                          || '-' || CAST(c_nationkey AS VARCHAR),
                          '[0-9]', 'X', 'g') AS scrubbed,
           CAST(len(regexp_replace(c_name || ' acct '
                    || CAST(c_custkey AS VARCHAR) || '-'
                    || CAST(c_nationkey AS VARCHAR),
                    '[^0-9]', '', 'g')) AS INT) AS n_digits
    FROM customer
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction over free text: mask every digit in a
    name-plus-account-number concatenation and count what was masked --
    the corpus-cleaning building block for phone/account-number removal.
    Pure column expressions (regexp_replace), whole-stage codegen;
    numeric parts are built from bigint casts, which render identically
    on both engines (double-to-string formatting does not)."""
    from ..operators.text import scrub_digits

    c = load_table(spark, sf_dir, "customer")
    raw = F.concat(
        F.col("c_name"), F.lit(" acct "),
        F.col("c_custkey").cast("string"), F.lit("-"),
        F.col("c_nationkey").cast("string"),
    )
    return c.select(
        "c_custkey",
        scrub_digits(raw).alias("scrubbed"),
        F.length(F.regexp_replace(raw, "[^0-9]", "")).cast("int").alias("n_digits"),
    )


@query(
    "q_doc_length_hist",
    oracle="""
    SELECT CAST(n_chars // 100 AS INT) AS bucket,
           COUNT(*)                    AS n_docs,
           MIN(n_chars)                AS min_chars,
           MAX(n_chars)                AS max_chars
    FROM documents GROUP BY 1
    """,
)
def q_doc_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: 100-char histogram buckets over the
    documents table -- the distribution check that precedes any length
    cutoff. One grouped aggregation with map-side partials."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        F.floor(F.col("n_chars") / 100).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_corpus_pipeline",
    oracle="""
    WITH quality AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_toks,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text FROM quality
        WHERE n_toks >= 5
          AND doc_id = (SELECT MIN(q2.doc_id) FROM quality q2
                        WHERE q2.fp = quality.fp AND q2.n_toks >= 5)
    ),
    toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM kept)
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token
    LIMIT 15
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality filter (>=5 tokens) ->
    canonical-fingerprint dedup (keep lowest doc_id per fingerprint) ->
    corpus top-15 terms. One declarative plan end to end: the dedup is a
    fingerprint-keyed window rank (ONE shuffle on fp, no join -- the
    winner set is corpus-cardinality, so the previous min-agg +
    broadcast-join would OOM at 100 TB exactly like a forced broadcast
    of any unbounded side), the term count gets map-side partials, the
    top-k is a TakeOrdered."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    quality = d.select(
        "doc_id", "text", F.size(TOKS()).alias("n_toks"), fingerprint("text").alias("fp")
    ).filter(F.col("n_toks") >= 5)
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        quality.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return (
        kept.select(F.explode(TOKS()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(15)
    )


@query(
    "q_domain_cap",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, source, rk FROM ranked WHERE rk <= 10
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain downsampling: cap every source at 10 docs, picked by a
    DETERMINISTIC pseudo-random order (md5 of the doc id -- identical in
    both engines, stable across partitionings and reruns). The standard
    rebalancing step when a handful of domains dominate a crawl.

    Scale: one shuffle keyed by source for the window rank; at 100 TB
    skewed domains salt-split first (operators/skew.py) or switch to
    sampleBy with per-domain fractions when exactness isn't required."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= 10)
    )


@query(
    "q_corpus_mixture",
    oracle="""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ), c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 600
                    WHEN 'src2' THEN 400 ELSE 200 END AS budget
        FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= budget
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture assembly to TARGET TOKEN PROPORTIONS: given per-domain
    mixture weights (src0..src3 at 40/30/20/10% of a 2000-token budget),
    greedily take each domain's docs in a deterministic pseudo-random
    order (md5 of doc id -- engine-portable, rerun-stable) until the
    domain's token budget is filled -- the mixing step every multi-source
    pretraining corpus build runs (domain reweighting a la
    SlimPajama/DoReMi). Unlike q_domain_cap (doc COUNT cap) the budget is
    in TOKENS, which is what the training run actually consumes.

    Scale: one scan, one shuffle keyed by source for the running-sum
    window; the cumulative sum is per-partition sequential but each
    domain's stream is independent, so parallelism = number of domains
    (salt-split a mega-domain first if one dominates --
    q_corpus_mixture_salted). Deterministic order means the same input
    always selects the same set; under appends the selection is stable
    up to the earliest newcomer in md5 order (see
    operators/mixture.py)."""
    from ..operators.mixture import token_budget_mixture

    d = load_table(spark, sf_dir, "documents")
    return token_budget_mixture(
        d,
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        total_budget=2000,
        n_tokens=F.size(TOKS()),
    )


@query(
    "q_corpus_mixture_salted",
    oracle="""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CASE WHEN source = 'src0'
                    THEN CAST(('0x' || substring(
                             md5('lane:' || CAST(doc_id AS VARCHAR)),
                             1, 15)) AS BIGINT) % 4
                    ELSE 0 END AS lane
        FROM documents WHERE source IN ('src0', 'src1')
    ), c AS (
        SELECT doc_id, source, lane, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source, lane
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               CASE WHEN source = 'src1' THEN 2005
                    WHEN lane = 0 THEN 502 ELSE 501 END AS budget
        FROM sized
    )
    SELECT doc_id, source, CAST(lane AS BIGINT) AS lane, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= budget
    """,
)
def q_corpus_mixture_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_corpus_mixture with MEGA-DOMAIN SALT-SPLITTING (round 7): src0
    is treated as the skewed domain and split into 4 portable-hash lanes
    (lane = md5-hash of the doc id alone, mod 4 -- rerun-stable and
    engine-portable), each lane filling its exactly-conserved sub-budget
    (round(4010 * 0.5) = 2005 tokens -> lanes [502, 501, 501, 501];
    the remainder spread is part of what the oracle checks); src1 runs
    unsalted on one lane. The skew answer for the mixture operator: the
    sequential running-sum unit shrinks from a whole mega-domain to
    1/n_salts of it, so parallelism = sum of lane counts instead of
    number of domains.

    Scale: same ONE scan + ONE shuffle as the unsalted operator -- the
    window partition key just widens to (source, lane). Budget
    conservation across the split is exact (property-tested in
    tests/test_mixture.py over all (budget, n) pairs); selection stays
    a strict md5-order prefix WITHIN each lane, and an appended
    document perturbs ONLY the lane it hashes into -- salting bounds
    an append's blast radius to 1/n_salts of the domain, where the
    unsalted operator can shift the whole domain's tail. See
    operators/mixture.py:salted_token_budget_mixture for the
    lane-budget >> doc-size sizing rule."""
    from ..operators.mixture import salted_token_budget_mixture

    d = load_table(spark, sf_dir, "documents")
    return salted_token_budget_mixture(
        d,
        weights={"src0": 0.5, "src1": 0.5},
        total_budget=4010,
        n_salts={"src0": 4},
        n_tokens=F.size(TOKS()),
    )


@query(
    "q_contamination",
    oracle="""
    WITH ev AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 16)
                       for i in range(1, length(text) - 14, 4)])) AS sh
        FROM documents WHERE source = 'src0' AND length(text) >= 16
    ), tr AS (
        SELECT DISTINCT unnest([substring(text, i, 16)
                       for i in range(1, length(text) - 14, 4)]) AS sh
        FROM documents WHERE source <> 'src0' AND length(text) >= 16
    )
    SELECT e.doc_id,
           CAST(ROUND(CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS contamination
    FROM ev e LEFT JOIN tr t USING (sh)
    GROUP BY e.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: treating source 'src0' as the held
    -out eval split, score each eval doc by the fraction of its distinct
    character-16-gram shingles that appear ANYWHERE in the train split --
    the benchmark-leakage test run before training on a crawled corpus.

    Scale: shingles are STRIDED (every 4th position -- the standard
    sampling for contamination checks; a contaminated span still yields
    many strided hits) so the explode is 4x smaller; the join keys by
    shingle, so the train side streams -- no all-pairs doc comparison
    exists. At 100 TB hash the shingles (xxhash64) instead of shipping
    16-char strings."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 16)

    def shingles(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 15, F.lit(4))
            ).alias("i"),
            "text",
        ).select("doc_id", F.expr("substring(text, i, 16)").alias("sh"))

    ev = shingles(d.filter(F.col("source") == "src0")).distinct()
    tr = (
        shingles(d.filter(F.col("source") != "src0"))
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        ev.join(tr, "sh", "left")
        .groupBy("doc_id")
        .agg(
            duck_round(
                F.sum(F.coalesce("hit", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("contamination")
        )
    )


@query(
    "q_block_dedup",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 10
    ), b AS (
        SELECT doc_id,
               unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                       for i in range(0, CAST(floor(len(toks)/10) AS INT))])
                   AS block
        FROM t
    )
    SELECT md5(block) AS block_hash, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
    FROM b GROUP BY md5(block) HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def q_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (block-level) dedup: split every doc into
    non-overlapping 10-token blocks and find blocks repeated across
    documents -- the boilerplate-removal pass (headers, footers, license
    blocks) that document-level dedup cannot see.

    Scale: blocks hash before the shuffle (md5 keys, uniform); one
    groupBy, map-side partials. The block list per doc is a narrow
    ``transform`` over the token array -- no Python, no self-join."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", TOKS().alias("toks")).filter(F.size("toks") >= 10)
    b = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(floor(size(toks)/10) as int) - 1),"
                " i -> array_join(slice(toks, i*10+1, 10), ' '))"
            )
        ).alias("block"),
    )
    return (
        b.groupBy(F.md5("block").alias("block_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 4) < '3333'
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% hash sample: keep rows whose md5(key) prefix
    falls below the threshold. Unlike ``sample()``/``TABLESAMPLE`` the
    result is REPRODUCIBLE across engines, partitionings, and reruns --
    the property a training-data pipeline needs for ablations (the same
    sample must be re-derivable months later).

    Scale: pure narrow filter -- no shuffle, no state; composes with any
    per-stratum threshold (vary the cut by segment for true stratified
    fractions)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4) < "3333"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "q_rare_token_ratio",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t)
    SELECT doc_id,
           CAST(ROUND(CAST(SUM(CASE WHEN f.c < 3 THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*), 4) AS DOUBLE) AS rare_ratio
    FROM tok JOIN freq f USING (t)
    GROUP BY doc_id
    """,
)
def q_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token share per document -- the exact-arithmetic stand-in for
    perplexity filtering (documents dominated by corpus-rare tokens are
    OCR noise, mojibake, or code dumps). "Rare" = corpus frequency < 3;
    pure counting, so the score is bit-identical across engines (a log-
    probability perplexity is NOT: libm transcendentals differ in the
    last ulp).

    Scale: the token-frequency side is NOT hinted -- token-type count
    grows ~O(n^0.7) with corpus size (Heaps' law), so at 100 TB a
    hapax-heavy web corpus has billions of types and a forced broadcast
    OOMs the executors. Un-hinted, AQE broadcasts it when runtime stats
    say it fits and falls back to a shuffled hash join when they don't.
    The per-doc pass is one explode + one doc-keyed aggregation; the
    frequency and scoring branches share ONE corpus scan (non-eager
    localCheckpoint on the token stream, same as q_unigram_logprob).
    The checkpoint is a TRADE, not free I/O savings: it materializes the
    token stream (several x corpus bytes) to executor storage with no
    recompute-on-loss (a lost block fails the job), in exchange for one
    parquet scan instead of two. Right at fixture-to-medium scale; at
    the 100 TB extreme prefer two column-pruned scans, a DISK_ONLY
    persist of the narrow pre-explode projection, or accept the rescan
    -- unlike the dedup.py pins, which cache only signature-sized
    rows."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TOKS()).alias("t")).transform(pin_corpus)
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            duck_round(
                F.sum(F.when(F.col("c") < 3, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("rare_ratio")
        )
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < 200
    ), s AS (
        SELECT vec_id, e,
               127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
        FROM d
    )
    SELECT vec_id,
           CAST(ROUND(scale, 6) AS DOUBLE) AS scale,
           array_to_string(
               list_transform(e, x -> CAST(floor(x * scale) AS INT)), ',') AS q
    FROM s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style embedding quantization: per-vector symmetric scale
    (127/max|x|), elements floored to ints -- the 4x memory/IO cut before
    ANN serving. floor (not round) because floor of a double is exact and
    engine-identical; all arithmetic promotes float32->double first, and
    double *,/ are IEEE-exact in both engines.

    Scale: narrow per-row transform, no shuffle; at 100 TB this runs
    inside the same scan that builds the IVF buckets. The quantized
    vector is ','-joined in the output (driver canonicalizer cannot
    hash list cells); real consumers keep the array form."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    # _e and _scale are materialized in their own projections: _scale is
    # referenced INSIDE the quantize lambda, and an inline alias would be
    # re-evaluated per element -- recomputing array_max(transform(abs))
    # and the cast chain dim times per row, ~dim^2 work (the word_ngrams
    # HOF-inlining class, r9). CollapseProject keeps the boundaries: the
    # aliases are non-cheap and referenced more than once.
    ed = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_e")
    )
    sd = ed.select(
        "vec_id",
        "_e",
        (F.lit(127.0) / F.array_max(F.transform("_e", F.abs))).alias("_scale"),
    )
    return sd.select(
        "vec_id",
        duck_round(F.col("_scale"), 6).cast("double").alias("scale"),
        F.array_join(
            F.transform(
                "_e", lambda x: F.floor(x * F.col("_scale")).cast("string")
            ),
            ",",
        ).alias("q"),
    )


@query(
    "q_span_dedup",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE doc_id < 100
    ),
    u AS (
        SELECT DISTINCT doc_id,
               array_to_string(tk[i : i + 2], ' ') AS span
        FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
        ) ix(i)
    )
    SELECT span, COUNT(DISTINCT doc_id) AS n_docs
    FROM u GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection: every 3-token sliding window, grouped
    across documents; spans occurring in >= 2 distinct docs are the
    repeated-substring inventory (doc_id<100 probe block).

    This is the Spark-shape of exact-substring dedup over a training
    corpus (the suffix-array approach in single-node tools): sliding
    windows via sequence+slice stay whole-stage-codegen JVM exprs, the
    within-doc DISTINCT gets map-side partial aggregation, and the only
    shuffle is keyed by span -- uniform hash keys, no quadratic pair
    space. At 100 TB, raise n (e.g. 50-token windows hash-compressed
    with xxhash64 instead of string spans) so the shuffle carries 8-byte
    keys; the plan shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = docs.select("doc_id", F.split("text", " ").alias("tk"))
    # Docs shorter than the window yield no spans -- and MUST be filtered
    # out before sequence/slice: sequence(1, 0) is DESCENDING [1, 0] in
    # Spark (unlike the oracle's empty range), and slice(tk, 0, 3)
    # raises INVALID_PARAMETER_VALUE.START. Same guard as q_collocations.
    t = t.filter(F.size("tk") >= 3)
    spans = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - F.lit(2)),
                lambda i: F.concat_ws(" ", F.slice("tk", i, 3)),
            )
        ).alias("span"),
    ).distinct()
    return (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "q_span_dedup_hashed",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE doc_id < 100
    ),
    u AS (
        SELECT DISTINCT doc_id,
               array_to_string(tk[i : i + 2], ' ') AS span
        FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
        ) ix(i)
    ),
    c AS (
        SELECT span, COUNT(DISTINCT doc_id) AS n_docs
        FROM u GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT n_docs, COUNT(*) AS n_spans FROM c GROUP BY n_docs
    """,
)
def q_span_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_span_dedup's 100 TB form: spans are xxhash64-compressed BEFORE
    the shuffle, so the span-keyed exchange carries 8-byte longs instead
    of arbitrary-length strings -- the shuffle-volume fix the suffix-array
    literature applies to exact-substring dedup at corpus scale. Same
    plan shape (sliding windows as codegen JVM exprs, within-doc DISTINCT
    with map-side partials, one span-keyed shuffle).

    Output is the duplicated-span histogram (n_docs -> n_spans over spans
    shared by >= 2 docs): hash KEYS cannot be compared across engines, so
    the oracle checks the hash-free aggregate -- equal iff the per-span
    grouping matched (no xxhash64 collisions on the fixtures; a collision
    would merge two spans and shift two histogram buckets)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = docs.select("doc_id", F.split("text", " ").alias("tk"))
    # size >= 3 guard: see q_span_dedup -- sequence(1, 0) descends and
    # slice(tk, 0, 3) raises on sub-window docs.
    t = t.filter(F.size("tk") >= 3)
    spans = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - F.lit(2)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("tk", i, 3))),
            )
        ).alias("span_key"),
    ).distinct()
    per_span = (
        spans.groupBy("span_key")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return per_span.groupBy("n_docs").agg(F.count(F.lit(1)).alias("n_spans"))


@query(
    "q_dedup_keep_one",
    oracle="""
    WITH RECURSIVE
    t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT i.doc_a AS src, i.doc_b AS dst
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.9
    ),
    sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst, src FROM edges
        UNION SELECT doc_id, doc_id FROM documents WHERE doc_id < 500
    ),
    walk(node, lbl) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT w.node, s.dst FROM walk w JOIN sym s ON w.lbl = s.src
    ),
    comp AS (
        SELECT node AS doc_id, MIN(lbl) AS component
        FROM walk GROUP BY node
    )
    SELECT component AS keep_id, COUNT(*) AS n_members
    FROM comp GROUP BY component
    """,
)
def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one scan that completes the dedup pipeline: near-dup
    clusters (same banded edges + connected components as
    q_dedup_clusters) reduced to one canonical survivor per cluster --
    ``keep_id`` = MIN doc_id reachable -- plus the cluster size the
    deletion report needs. Downstream, the corpus filter is a semi-join
    of documents against ``keep_id``.

    Scale: everything up to components is the q_dedup_clusters plan; the
    reduction is one component-keyed aggregation with map-side partials
    (component ids are cluster-sized -- orders of magnitude fewer keys
    than docs)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    edges = minhash_verified_edges(
        d, "doc_id", F.array_distinct(TOKS()), threshold=0.9, k=16, bands=8
    )
    comp = connected_components(edges, "src", "dst", num_partitions=8)
    members = (
        d.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    )
    return members.groupBy(F.col("component").alias("keep_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@query(
    "q_dedup_rate",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           CAST(ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                / COUNT(*), 4) AS DOUBLE) AS dup_rate
    FROM documents
    """,
)
def q_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication summary: exact-duplicate rate over the whole
    table in one scan -- the before/after number every dedup run reports.

    Scale: COUNT(DISTINCT hash) is planned as a two-stage expand/partial
    aggregation (map-side partials on the 128-bit hash, uniform keys);
    the text itself never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
        duck_round(
            F.lit(1.0)
            - F.countDistinct(F.md5(F.col("text").cast("binary"))).cast("double")
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("dup_rate"),
    )


@query(
    "q_decontaminate",
    oracle="""
    WITH ev AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 16)
                       for i in range(1, length(text) - 14, 4)])) AS sh
        FROM documents WHERE source = 'src0' AND length(text) >= 16
    ), tr AS (
        SELECT DISTINCT unnest([substring(text, i, 16)
                       for i in range(1, length(text) - 14, 4)]) AS sh
        FROM documents WHERE source <> 'src0' AND length(text) >= 16
    )
    SELECT e.doc_id
    FROM ev e LEFT JOIN tr t USING (sh)
    GROUP BY e.doc_id
    HAVING SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) = 0
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_contamination's enforcement half: the CLEAN eval set -- docs
    whose strided 16-gram shingles never appear in the train split --
    expressed as the semi/anti join pair a decontamination pass actually
    runs (flag dirty docs by shingle semi-join, anti-join them away).

    Scale: both joins key by shingle/doc_id -- no doc x doc space; the
    dirty-doc set is small and broadcast-eligible for the anti join. At
    100 TB hash the shingles (xxhash64) so the semi join ships 8-byte
    keys. The ev/tr/anti branches share ONE corpus scan (non-eager
    localCheckpoint on the filtered narrow projection -- the same
    single-scan treatment the similarity queries got)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 16)
        .select("doc_id", "source", "text")
        .transform(pin_corpus)
    )

    def shingles(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 15, F.lit(4))
            ).alias("i"),
            "text",
        ).select("doc_id", F.expr("substring(text, i, 16)").alias("sh"))

    ev = shingles(d.filter(F.col("source") == "src0")).distinct()
    tr = shingles(d.filter(F.col("source") != "src0")).select("sh").distinct()
    dirty = ev.join(tr, "sh", "left_semi").select("doc_id").distinct()
    return (
        ev.select("doc_id")
        .distinct()
        .join(broadcast(dirty), "doc_id", "left_anti")
    )


@query(
    "q_approx_topk",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    k AS (SELECT c AS c10 FROM cnt ORDER BY c DESC LIMIT 1 OFFSET 9)
    SELECT CAST(i AS INT) AS rk,
           (SELECT c10 FROM k) AS kth_count,
           TRUE AS is_valid_topk
    FROM range(1, 11) t(i)
    """,
)
def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: ``approx_top_k`` over the token stream
    -- the 100 TB path for vocabulary/stop-word discovery (mergeable
    frequent-items sketch, one pass, no per-token shuffle of the full
    count table to the driver).

    Same oracle pattern as q_agg_approx_distinct: sketch internals are
    engine-specific, so the checkable statement is VALIDITY -- each of
    the sketch's top-10 items must have an exact corpus count >= the
    exact 10th-highest count (ties make several top-10 sets equally
    correct; membership-above-threshold accepts exactly the valid ones).
    The exact side is the verification yardstick; only the sketch runs
    at scale. At fixture vocabulary sizes (< the sketch's 10k tracked
    items) the sketch is exact, so the booleans are deterministically
    TRUE.

    The sketch pass and the exact verification pass share ONE corpus
    scan (non-eager localCheckpoint on the token stream); in production
    only the sketch side runs, so the checkpoint is a test-harness cost,
    not a deployment one."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(TOKS()).alias("t")).transform(pin_corpus)
    approx = tok.agg(F.expr("approx_top_k(t, 10)").alias("tk")).select(
        F.posexplode("tk").alias("pos", "entry")
    ).select(
        (F.col("pos") + 1).cast("int").alias("rk"),
        F.col("entry.item").alias("item"),
    )
    exact = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    c10 = (
        exact.orderBy(F.col("c").desc(), F.col("t"))
        .limit(10)
        .agg(F.min("c").alias("c10"))
    )
    return (
        approx.join(broadcast(exact), F.col("item") == F.col("t"), "left")
        .crossJoin(broadcast(c10))
        .select(
            "rk",
            F.col("c10").alias("kth_count"),
            (F.coalesce("c", F.lit(0)) >= F.col("c10")).alias("is_valid_topk"),
        )
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH idx AS (
        SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents WHERE doc_id < 400
    ),
    batch AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents WHERE doc_id >= 400
    )
    SELECT fp, MIN(doc_id) AS keep_id
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = b.fp)
    GROUP BY fp
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) dedup: the new batch (doc_id >= 400)
    is deduped AGAINST the existing corpus fingerprint index (doc_id <
    400) with an anti join, then within itself (min doc_id per
    fingerprint) -- the shape every rolling corpus build runs nightly,
    where re-deduping the whole history would be quadratic in days.

    Scale: the index side is fingerprints only (16 bytes/doc, no text);
    the anti join and the keep-one agg both key on the fingerprint --
    uniform hash keys, map-side partials, and the historical text is
    never read again."""
    d = load_table(spark, sf_dir, "documents")
    idx = (
        d.filter(F.col("doc_id") < 400)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    return (
        batch.join(idx, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )


@query(
    "q_dedup_bloom",
    oracle="""
    WITH idx AS (
        SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents WHERE doc_id < 250
    ),
    batch AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents WHERE doc_id >= 250
    )
    SELECT fp, MIN(doc_id) AS keep_id
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = b.fp)
    GROUP BY fp
    """,
)
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated incremental dedup (round 8): the SAME semantics
    as q_dedup_incremental's anti-join -- new-batch fingerprints not in
    the corpus index -- but the membership test is pruned by a Bloom
    sketch built over the index (operators/dedup.py
    bloom_prefiltered_new_keys). The result is EXACT for any
    false-positive rate (might_contain=false is definitely-new and skips
    the join; might_contain=true is verified by the anti-join), so the
    oracle is the plain NOT EXISTS SQL -- the sketch only decides which
    rows pay the shuffle.

    Why a second incremental-dedup query: the two are the SAME answer
    with different 100 TB shuffle profiles. The plain anti-join shuffles
    the ENTIRE daily batch against the index; this plan broadcasts a
    one-row sketch (~100 KB for 1% FP at 10 bits/key) and shuffles only
    (true dups + FP-rate x batch). Spark's InjectRuntimeFilter applies
    the same idea to selective joins automatically; an ingest pipeline
    wants it explicit and sized (num_bits ~ 10x index cardinality).

    Scale: sketch build is one map-side-combined aggregate over the
    fingerprint index (16 bytes/doc, no text); the definitely-new branch
    is narrow; only the possibly-seen branch joins."""
    from ..operators.dedup import bloom_prefiltered_new_keys

    d = load_table(spark, sf_dir, "documents")
    idx = (
        d.filter(F.col("doc_id") < 250)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    return (
        bloom_prefiltered_new_keys(batch, idx, key="fp")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )


@query(
    "q_ann_filtered",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    p AS (SELECT * FROM v WHERE vec_id < 25),
    s AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               CAST(ROUND(list_dot_product(p.e, c.e)
                    / (sqrt(list_dot_product(p.e, p.e))
                       * sqrt(list_dot_product(c.e, c.e))), 4) AS DOUBLE) AS sim
        FROM p JOIN v c ON c.label = p.label AND c.vec_id <> p.vec_id
    ),
    r AS (
        SELECT probe_id, cand_id, sim,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM s
    )
    SELECT probe_id, cand_id, sim, CAST(rn AS INT) AS rk
    FROM r WHERE rn <= 3
    """,
)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-3 same-label neighbors per probe
    (vec_id < 25) -- the metadata-predicate + similarity composition
    every production vector store serves (tenant/class/language scoping).
    The filter is an equi-join condition, so it prunes candidates BEFORE
    any similarity math instead of post-filtering a global top-k (which
    under-fills when the filter is selective).

    Scale: probes (with labels) broadcast; the label condition rides the
    broadcast hash join, candidates stream; per-partition partial top-k
    merges in the probe-keyed window. A label-partitioned parquet layout
    would add partition pruning on the candidate scan."""
    v = with_norm(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    p = v.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("p_label"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    joined = v.join(
        broadcast(p),
        (F.col("label") == F.col("p_label")) & (F.col("vec_id") != F.col("probe_id")),
    )
    scored = joined.select(
        "probe_id",
        F.col("vec_id").alias("cand_id"),
        duck_round(
            _dot(F.col("pe"), F.col("e")) / (F.col("pnrm") * F.col("nrm")), 4
        ).cast("double").alias("sim"),
    )
    return topk_per_probe(scored, 3)


@query(
    "q_collocations",
    oracle="""
    WITH tk AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM tk),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
    big AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM tk CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(t))) AS i
        ) ix(i)
    ),
    bcnt AS (SELECT w1, w2, COUNT(*) AS cxy FROM big GROUP BY w1, w2),
    nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big)
    SELECT b.w1, b.w2, b.cxy,
           -- + 0.0 folds IEEE negative zero: DuckDB's ROUND on DOUBLE is
           -- round(x*1e4)/1e4 and PRESERVES the sign bit (a raw PMI of
           -- -3.9e-06 rounds to -0.0), while Spark's F.round goes through
           -- BigDecimal which has no signed zero and emits +0.0. The
           -- driver hash distinguishes the sign bit (CORRECTNESS_r07's
           -- one red row); -0.0 + 0.0 = +0.0 and x + 0.0 = x otherwise.
           (CAST(ROUND(ln((CAST(b.cxy AS DOUBLE) / nb.n)
                    / ((c1.c / nu.n) * (c2.c / nu.n))), 4) AS DOUBLE)
            + 0.0) AS pmi
    FROM bcnt b
    CROSS JOIN nb CROSS JOIN nu
    JOIN ucnt c1 ON c1.w = b.w1
    JOIN ucnt c2 ON c2.w = b.w2
    WHERE b.cxy >= 10
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (phrase) mining: pointwise mutual information over
    adjacent token bigrams -- the phrase-detection pass (word2vec-style)
    a tokenizer-training pipeline runs before building a vocabulary.
    PMI = ln(p(xy) / (p(x) p(y))) with bigram/unigram probabilities;
    frequency floor cxy >= 10 keeps estimates stable.

    Scale: bigram and unigram counts are token-keyed aggregations with
    map-side partials; the unigram table is vocabulary-sized and
    BROADCAST back to the bigram counts; the two corpus totals are
    scalar cross joins. One corpus scan feeds both counts (non-eager
    localCheckpoint on the tokenized rows -- the usual trade: a
    corpus-sized materialization without recompute-on-loss buys the
    single scan; at the 100 TB extreme re-scan instead). The ln is
    rounded to 4dp (the tfidf cross-engine convention)."""
    d = load_table(spark, sf_dir, "documents")
    # checkpointed so unigram/bigram counts + both totals really do share
    # ONE corpus scan (the docstring claim; the un-checkpointed plan
    # re-scanned documents per consumer)
    tk = d.select(F.split("text", " ").alias("t")).transform(pin_corpus)
    uni = tk.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.agg(F.count(F.lit(1)).cast("double").alias("nu"))
    # size >= 2 guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0],
    # not an empty array (DuckDB's range(1, 1) IS empty), so single-token
    # docs would fabricate null bigrams without it
    big = tk.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    nb = big.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    c1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("cxy").cast("double") / F.col("nb"))
        / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
    )
    return (
        bcnt.filter(F.col("cxy") >= 10)
        .crossJoin(broadcast(nb))
        .crossJoin(broadcast(nu))
        .join(broadcast(c1), "w1")
        .join(broadcast(c2), "w2")
        .select(
            "w1", "w2", "cxy",
            # + 0.0 on BOTH sides (oracle too): duck_round faithfully
            # mirrors DuckDB's sign-preserving ROUND, so a raw PMI of
            # -3.9e-06 rounds to -0.0 on both engines; the fold keeps the
            # registry's outputs negative-zero-free (tests/test_sign_of_zero.py)
            (duck_round(pmi, 4) + F.lit(0.0)).cast("double").alias("pmi"),
        )
    )


@query(
    "q_containment_sim",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(ROUND(CAST(i.n_common AS DOUBLE) / sa.n, 4) AS DOUBLE)
               AS cont_a_in_b,
           CAST(ROUND(CAST(i.n_common AS DOUBLE) / sb.n, 4) AS DOUBLE)
               AS cont_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
    """,
)
def q_containment_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment similarity (|A∩B| / |A| each direction,
    doc_id<50 probe): catches subset-duplicates -- a short doc fully
    embedded in a long one scores containment ~1 while its Jaccard is
    small, so symmetric thresholds miss exactly the quote/excerpt
    duplication a corpus dedup cares about. Pairs kept when the smaller
    side is >= 80% contained.

    Scale: same sparse token-keyed join as q_jaccard_sim (bounded
    ground-truth probe; the banded MinHash path is the bulk variant,
    and hot-token capping applies identically)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(TOKS())).alias("tok")
    ).transform(pin_corpus)  # one scan: self-join sides + sizes
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nc = F.col("n_common").cast("double")
    return (
        inter.join(broadcast(sizes.alias("sa")), F.col("sa.doc_id") == F.col("doc_a"))
        .join(broadcast(sizes.alias("sb")), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(nc / F.least(F.col("sa.n"), F.col("sb.n")) >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            duck_round(nc / F.col("sa.n"), 4).cast("double").alias("cont_a_in_b"),
            duck_round(nc / F.col("sb.n"), 4).cast("double").alias("cont_b_in_a"),
        )
    )


# --------------------------------------------------------------------------
# training-batch preparation: chunking + sequence packing
# --------------------------------------------------------------------------


@query(
    "q_chunk_documents",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    e AS (
        SELECT doc_id, tk,
               unnest(range(0, CAST(ceil(len(tk) / 48.0) AS INTEGER))) AS i
        FROM t
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(i * 48 AS INTEGER) AS chunk_start,
           CAST(len(tk[i*48 + 1 : i*48 + 64]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(tk[i*48 + 1 : i*48 + 64], ' ') AS chunk_text
    FROM e
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: 64-token windows, stride 48 (16-token
    overlap), every token covered, last window short.

    Scale: pure per-row column expressions (sequence/explode/slice/
    array_join) -- narrow, no shuffle, whole-stage codegen; output size
    ~= corpus x (1 + overlap ratio), which is the expected cost of
    overlap chunking, not a plan artifact."""
    from ..operators.packing import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return chunk_tokens(d, "doc_id", TOKS(), chunk_size=64, stride=48)


@query(
    "q_pack_sequences",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INTEGER)
                   AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, n_tokens, rn, 0 AS bin_id, n_tokens AS fill
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
               CASE WHEN r.fill + d.n_tokens <= 512
                    THEN r.bin_id ELSE r.bin_id + 1 END,
               CASE WHEN r.fill + d.n_tokens <= 512
                    THEN r.fill + d.n_tokens ELSE d.n_tokens END
        FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1
    )
    SELECT doc_id, lang, n_tokens,
           CAST(bin_id AS INTEGER) AS bin_id,
           CAST(fill AS INTEGER) AS bin_fill
    FROM r
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-in-order sequence packing into 512-token training
    bins, one independent bin stream per language shard.

    Packing is sequential within a stream by definition (each bin's
    contents depend on every earlier doc), so the engine parallelizes
    ACROSS streams: one shuffle on the shard key, then an Arrow-batched
    O(n) pass per stream (operators/packing.py pack_greedy). The DuckDB
    oracle replays the identical walk as a recursive CTE, so this
    "imperative" operator still carries an exact hash oracle.

    Scale: shard by hash bucket instead of lang to bound stream length
    (bin ids are stream-local; global ids are (shard, bin_id) pairs --
    no cross-shard coordination anywhere)."""
    from ..operators.packing import pack_greedy

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(TOKS()).alias("n_tokens")
    )
    return pack_greedy(
        d, shard_col="lang", order_col="doc_id", size_col="n_tokens", budget=512
    )


@query(
    "q_unigram_logprob",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
    n AS (SELECT COUNT(*) AS total FROM t),
    lp AS (
        SELECT t.doc_id,
               CAST(ROUND(ln(CAST(v.c AS DOUBLE) / n.total) * 1000000)
                    AS BIGINT) AS lp6
        FROM t JOIN v USING (tok) CROSS JOIN n
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
           CAST(ROUND(SUM(lp6) / COUNT(*) / 1000000.0, 4) AS DOUBLE)
               AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: per-doc mean token
    log-probability under the corpus's own unigram distribution -- the
    classic perplexity-proxy filter (low avg_logprob = rare-token-heavy /
    junk documents; threshold or bucket downstream).

    Cross-engine determinism: the per-token logprob is quantized to a
    1e-6-granular INTEGER before summing, so the doc aggregate is an
    exact commutative integer sum -- immune to Spark-vs-DuckDB double
    summation order (a raw AVG(ln) would hash-mismatch on last-ulp
    reorderings).

    Scale: the unigram table is vocabulary-sized -> broadcast; the corpus
    total is a scalar cross join; one token-keyed shuffle builds the
    vocab, one doc-keyed shuffle aggregates -- both map-side-combined. A
    pretrained (static) LM table makes the first shuffle disappear
    entirely: the score pass is then a broadcast join + single agg. The
    vocab/total/score branches share ONE corpus scan (non-eager
    localCheckpoint on the token stream -- same trade-off caveat as
    q_rare_token_ratio: the materialized stream is corpus-sized
    executor storage without recompute-on-loss, worth it up to medium
    scale, swap for re-scan or a DISK_ONLY narrow-projection persist at
    the 100 TB extreme)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(TOKS()).alias("tok")).transform(pin_corpus)
    v = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = t.agg(F.count(F.lit(1)).alias("total"))
    lp = (
        t.join(broadcast(v), "tok")
        .crossJoin(broadcast(n))
        .select(
            "doc_id",
            duck_round(
                F.log(F.col("c").cast("double") / F.col("total")) * 1000000
            )
            .cast("long")
            .alias("lp6"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        duck_round(F.sum("lp6") / F.count(F.lit(1)) / 1000000.0, 4)
        .cast("double")
        .alias("avg_logprob"),
    )


@query(
    "q_logprob_strata",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
    n AS (SELECT COUNT(*) AS total FROM t),
    lp AS (
        SELECT t.doc_id,
               CAST(ROUND(ln(CAST(v.c AS DOUBLE) / n.total) * 1000000)
                    AS BIGINT) AS lp6
        FROM t JOIN v USING (tok) CROSS JOIN n
    ),
    doc AS (
        SELECT doc_id,
               CAST(ROUND(SUM(lp6) / COUNT(*) / 1000000.0, 4) AS DOUBLE)
                   AS avg_logprob
        FROM lp GROUP BY doc_id
    ),
    st AS (
        SELECT doc_id, avg_logprob,
               CAST(NTILE(4) OVER (ORDER BY avg_logprob, doc_id) AS INT)
                   AS stratum
        FROM doc
    )
    SELECT s.doc_id, s.stratum, s.avg_logprob
    FROM st s JOIN documents d USING (doc_id)
    WHERE CAST('0x' || substring(md5(d.text), 1, 15) AS BIGINT) % 100
          < CASE s.stratum WHEN 1 THEN 25 WHEN 2 THEN 50
                           WHEN 3 THEN 75 ELSE 100 END
    """,
)
def q_logprob_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified sampling by LM score (round 8) -- the
    DSIR/DoReMi-flavored curation move: bucket documents into quartile
    STRATA of unigram avg-logprob (q_unigram_logprob's perplexity
    proxy), then keep each stratum at a different rate (25/50/75/100%
    from junkiest to most natural) with the dedup-safe content-hash
    sampler (portable md5-60 mod 100, the q_split_train_val_test
    convention: identical documents are kept or dropped together,
    re-ingestion cannot flip membership).

    Cross-engine determinism: the logprob aggregate is the exact int64
    lp6 sum (commutative); strata come from the total order (rounded
    avg_logprob, doc_id) -- the rounded score is bit-identical
    cross-engine (duck_round) and doc_id breaks ties, so the quartile
    assignment is deterministic; the sampler is the portable hash.

    Scale (re-planned round 14, VERDICT r13 #2): the quartile strata no
    longer run through a single-partition NTILE window over the
    corpus-sized doc relation -- the shipped plan is the TWO-PASS
    range-partitioned rank (operators/rank.py global_rank: range
    shuffle + P-way partition-local row_number + broadcast offsets)
    with NTILE's exact bucket boundaries (q = n//4, the first n%4
    buckets one larger) applied as literal comparisons on the global
    rank. That reproduces NTILE(4) bit-for-bit over the unique order
    -- VALUES UNCHANGED, ORACLE UNCHANGED -- which is strictly stronger
    than the broadcast-approx-quantile-threshold variant this docstring
    used to name: threshold comparison changes tie handling at bucket
    boundaries and an approx sketch cannot be mirrored into the DuckDB
    oracle at all, while the two-pass rank is exact, SQL-free of
    single-reducer sorts, and shares the q_win_percent_rank machinery.
    The sample filter itself is a pure per-row expression, and the
    token-stream pin is the q_unigram_logprob single-scan trade."""
    from ..operators.dedup import portable_hash60
    from ..operators.rank import global_rank

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(TOKS()).alias("tok")).transform(pin_corpus)
    v = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = t.agg(F.count(F.lit(1)).alias("total"))
    lp = (
        t.join(broadcast(v), "tok")
        .crossJoin(broadcast(n))
        .select(
            "doc_id",
            duck_round(
                F.log(F.col("c").cast("double") / F.col("total")) * 1000000
            )
            .cast("long")
            .alias("lp6"),
        )
    )
    doc = lp.groupBy("doc_id").agg(
        duck_round(F.sum("lp6") / F.count(F.lit(1)) / 1000000.0, 4)
        .cast("double")
        .alias("avg_logprob")
    )
    ranked, n_docs = global_rank(
        doc,
        [F.col("avg_logprob").asc(), F.col("doc_id").asc()],
        rank_col="_r",
    )
    # NTILE(4) boundary ranks: floor-size buckets, remainder to the
    # earliest -- bucket 1 ends at q + (rem>=1), etc.
    q4, rem = divmod(n_docs, 4)
    s1 = q4 + (1 if rem >= 1 else 0)
    s2 = s1 + q4 + (1 if rem >= 2 else 0)
    s3 = s2 + q4 + (1 if rem >= 3 else 0)
    st = ranked.select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("_r") <= s1, 1)
        .when(F.col("_r") <= s2, 2)
        .when(F.col("_r") <= s3, 3)
        .otherwise(4)
        .cast("int")
        .alias("stratum"),
    )
    rate = (
        F.when(F.col("stratum") == 1, 25)
        .when(F.col("stratum") == 2, 50)
        .when(F.col("stratum") == 3, 75)
        .otherwise(100)
    )
    return (
        st.join(d.select("doc_id", "text"), "doc_id")
        .filter((portable_hash60(F.col("text")) % 100) < rate)
        .select("doc_id", "stratum", "avg_logprob")
    )


@query(
    "q_split_train_val_test",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 100
                   AS bucket
        FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM s GROUP BY split, lang
    """,
)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on a CONTENT
    hash (portable md5-60-bit mod 100) -- the dedup-safe convention:
    identical documents land in the same split regardless of row order,
    partitioning, or re-ingestion, so train/test leakage cannot be
    introduced by a shuffle. Output is the per-(split, lang) census.

    Scale: the split label is a pure per-row expression (no shuffle to
    ASSIGN); the census aggregates on a 15-value key. Writing the actual
    splits is a partitioned sink on the label column -- one pass."""
    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.col("text")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )


@query(
    "q_split_leakage_safe",
    oracle=_CLUSTERS_CC_CTES
    + """,
    rep AS (
        SELECT c.doc_id, c.component,
               CAST('0x' || substring(md5(d.text), 1, 15) AS BIGINT) % 100
                   AS bucket
        FROM comp c JOIN documents d ON d.doc_id = c.component
    )
    SELECT doc_id, component,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM rep
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (round 9): the split key is the
    near-dup CLUSTER's canonical representative, not the document's own
    content. q_split_train_val_test's content-hash split is dedup-safe
    for EXACT duplicates (identical text -> identical bucket), but two
    near-duplicates hash to independent buckets -- a 0.95-Jaccard pair
    straddling train and test is textbook eval contamination (the exact
    leak q_contamination hunts AFTER the fact; this prevents it at
    split time). Rule: component = q_dedup_clusters' connected
    components over exact-verified token-Jaccard >= 0.9 edges
    (doc_id<500 probe block, the same bounded-probe convention); every
    member inherits the split of the component representative, bucketed
    by the representative TEXT's portable hash mod 100 (80/10/10) -- so
    the assignment survives re-ingestion and re-clustering as long as
    the representative's content does.

    Cross-engine determinism: the cluster labels inherit
    q_dedup_clusters' recursive-closure oracle (the SAME shared CTE
    constant, so the two queries cannot drift on the cluster
    definition); the bucket is the portable md5-60 mod 100 integer.

    Scale: clustering is the q_dedup_clusters plan (banded LSH ->
    exact verify -> connected components); the representative lookup is
    one join from the component label back to the corpus (component IS
    a doc_id), the bucket a per-row expression, and the member
    assignment one more component-keyed join. Writing the actual splits
    is a partitioned sink on the label -- one pass, exactly like the
    plain split."""
    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    comp = q_dedup_clusters(spark, sf_dir)
    reps = comp.select("component").distinct()
    bucket = portable_hash60(F.col("text")) % 100
    rep_split = (
        reps.join(d, F.col("component") == F.col("doc_id"))
        .select(
            "component",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    return comp.join(rep_split, "component").select(
        "doc_id", "component", "split"
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               CAST(CAST('0x' || substring(md5('ws:' || text), 1, 15)
                         AS BIGINT) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS priority
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, n_tok, priority,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY priority, doc_id) AS rk
        FROM w
    )
    SELECT source, doc_id, n_tok, priority FROM r WHERE rk <= 20
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (round 8): per-source top-k by
    hash priority ``h / w`` with weight w = token count -- sequential
    Poisson / priority sampling (Ohlsson; Duffield-Lund-Thorup): a
    document's chance of making the sample is proportional to its
    weight, yet membership is a pure function of content, so identical
    documents sample identically (the q_split_train_val_test
    dedup-safety convention) and re-ingestion or repartitioning cannot
    flip the sample. This is the mixture-building primitive: "take k
    docs per source, long docs proportionally more often", without an
    RNG whose state would differ per engine and per run.

    Cross-engine determinism: the priority is int64 md5-60 -> DOUBLE
    over int -> DOUBLE division -- IEEE correctly-rounded conversions
    and one correctly-rounded division, no libm, so the doubles are
    bit-identical in Spark and DuckDB; (priority, doc_id) is a total
    order, so the top-20 cut is exact.

    Scale: weight and priority are pure per-row expressions (no shuffle
    to assign); the per-source top-k is one hash-partitioned window on a
    low-cardinality key. At 100 TB swap the row_number window for the
    rank-threshold trick (approx top-k per group, then exact filter) if
    source cardinality is low enough to skew -- same output."""
    from pyspark.sql import Window

    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(TOKS())
    pri = portable_hash60(F.concat(F.lit("ws:"), F.col("text"))).cast(
        "double"
    ) / n_tok.cast("double")
    w = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        pri.alias("priority"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("priority", "doc_id")
    )
    return (
        w.withColumn("rk", rk)
        .filter(F.col("rk") <= 20)
        .select("source", "doc_id", "n_tok", "priority")
    )


#: Shared DuckDB CTE chain producing the per-document bigram-LM score
#: relation ``bdoc(doc_id, n_bigrams, avg_bigram_lp)`` -- ONE definition
#: used by q_bigram_lm's oracle AND q_perplexity_buckets' oracle (the
#: qc_oracle_cte / lang_mix sharing convention, ADVICE r7/r8: a scoring
#: model consumed by two registry rows is one constant so the oracles
#: cannot desynchronize). Mirrors :func:`bigram_doc_scores` exactly.
_BIGRAM_DOC_CTE = """
    tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM tk CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(t))) AS i
        ) ix(i)
    ),
    vc AS (SELECT COUNT(DISTINCT w) AS v
           FROM (SELECT unnest(t) AS w FROM tk) u),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    hc AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    lp AS (
        SELECT b.doc_id,
               CAST(ROUND(ln((CAST(bc.c12 AS DOUBLE) + 1.0)
                             / (CAST(hc.c1 AS DOUBLE) + vc.v)) * 1000000)
                    AS BIGINT) AS lp6
        FROM big b JOIN bc USING (w1, w2) JOIN hc USING (w1) CROSS JOIN vc
    ),
    bdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
               (CAST(ROUND(SUM(lp6) / COUNT(*) / 1000000.0, 4) AS DOUBLE)
                + 0.0) AS avg_bigram_lp
        FROM lp GROUP BY doc_id
    )
"""


def bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM score relation ``(doc_id, n_bigrams,
    avg_bigram_lp)`` -- the add-one-smoothed conditional-logprob model
    q_bigram_lm defines, factored out (round 14) so the CCNet-style
    bucketing row (q_perplexity_buckets) applies the IDENTICAL scoring
    function of the corpus: one Spark relation + one oracle CTE
    (``_BIGRAM_DOC_CTE``), the shared-scoring convention of
    qc_oracle_cte / lang_mix_scores. Semantics, determinism, and scale
    notes live on q_bigram_lm (the defining row); docs with fewer than
    two tokens have no bigrams and no score row."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.split("text", " ").alias("t")).transform(pin_corpus)
    big = (
        tk.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .transform(pin_corpus)
    )
    vc = (
        tk.select(F.explode("t").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    hc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    lp6 = (
        duck_round(
            F.log(
                (F.col("c12").cast("double") + F.lit(1.0))
                / (F.col("c1").cast("double") + F.col("v"))
            )
            * 1000000
        )
        .cast("long")
        .alias("lp6")
    )
    lp = (
        big.join(bc, ["w1", "w2"])
        .join(broadcast(hc), "w1")
        .crossJoin(broadcast(vc))
        .select("doc_id", lp6)
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        (duck_round(F.sum("lp6") / F.count(F.lit(1)) / 1000000.0, 4) + F.lit(0.0))
        .cast("double")
        .alias("avg_bigram_lp"),
    )


@query(
    "q_bigram_lm",
    oracle="WITH "
    + _BIGRAM_DOC_CTE
    + """
    SELECT doc_id, n_bigrams, avg_bigram_lp FROM bdoc
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score (round 8): per-document mean
    conditional logprob ln P(w2 | w1) under an add-one-smoothed bigram
    LM estimated on the corpus itself -- the CCNet/KenLM-style
    perplexity filter one rung up from q_unigram_logprob's unigram
    proxy (a document full of individually common words in an unusual
    ORDER now scores low). Smoothing: P(w2|w1) = (c(w1 w2) + 1) /
    (c(w1 .) + V) with V the unigram vocabulary size; the history count
    c(w1 .) counts w1's occurrences AS a bigram history (doc-final
    tokens excluded), so probabilities per history sum to exactly 1.

    Cross-engine determinism: the unigram-logprob convention -- each
    bigram's logprob is quantized to integer micro-nats (duck_round to
    0dp, bit-exact vs DuckDB ROUND) so the per-doc SUM is commutative
    int64 arithmetic, immune to partition order; the final 4dp mean is
    duck_round + the negative-zero fold (q_collocations convention).

    Scale: bigram extraction is a narrow per-row transform; the pinned
    bigram stream feeds the bigram-count, history-count, and per-doc
    scoring consumers in ONE corpus scan (pin_corpus trade as
    documented there). History counts and the scalar V are
    vocabulary-sized and broadcast; the bigram-TYPE table bc is
    vocab^2-bounded so it carries NO broadcast hint -- AQE broadcasts
    it while it fits and falls back to a shuffle join at 100 TB (the
    doc-cardinality hint rule, one level up).

    Round 14: the score relation is factored into
    :func:`bigram_doc_scores` (+ the shared oracle CTE
    ``_BIGRAM_DOC_CTE``) so q_perplexity_buckets consumes the IDENTICAL
    model -- plan and values unchanged, the shared-scoring convention."""
    return bigram_doc_scores(spark, sf_dir)


@query(
    "q_embed_outliers",
    oracle="""
    WITH flat AS (
        SELECT vec_id, label, u.pos,
               CAST(ROUND(u.val * 100000) AS BIGINT) AS xq
        FROM embeddings,
             unnest([{'pos': i, 'val': CAST(embedding[i + 1] AS DOUBLE)}
                     for i in range(0, len(embedding))]) AS t(u)
    ),
    sums AS (
        SELECT label, pos, CAST(SUM(xq) AS BIGINT) AS s, COUNT(*) AS n
        FROM flat GROUP BY label, pos
    ),
    d AS (
        SELECT f.label, f.vec_id,
               CAST(SUM((f.xq * s.n - s.s) * (f.xq * s.n - s.s)) AS BIGINT)
                   AS d2
        FROM flat f JOIN sums s ON s.label = f.label AND s.pos = f.pos
        GROUP BY f.label, f.vec_id
    )
    SELECT label, vec_id, d2 FROM (
        SELECT label, vec_id, d2,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY d2 DESC, vec_id) AS rk
        FROM d
    ) WHERE rk <= 5
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection (round 8): per label, the 5
    vectors farthest from the label centroid -- the curation pass that
    drops mislabeled / off-distribution samples before training (the
    CLIP-filtering / isolation-by-distance move), and the quality check
    run after any IVF/k-means build.

    Exactness without a float in sight: dims are quantized to integer
    1e-5 steps (duck_round mirror of the oracle's ROUND), the centroid
    is carried as the exact integer per-dim SUM s with count n, and the
    squared distance is computed in cleared-denominator form
    d2 = sum_pos (xq * n - s)^2 -- pure int64 arithmetic, commutative
    and partition-order independent, so Spark's shuffled groupBy and
    DuckDB's serial aggregate agree bit-for-bit. n is constant within a
    label, so ranking by d2 ranks by true centroid distance; d2's scale
    (q^2 n^2) is label-relative by construction. Int64 envelope:
    64 * (2 q_max n)^2 < 2^63 holds to n_label ~ 3e3 at |x| <= 0.6
    (fixture n_label <= 200; 15x headroom at sf1) -- beyond that drop
    the quantization step to 1e4, or rescale per label; DuckDB's
    checked BIGINT multiply makes the oracle a built-in overflow canary.

    Scale: one embeddings scan (pinned flat relation feeds the sums and
    the join-back), a (label, pos)-keyed aggregation with map-side
    partials, a BROADCAST of the 640-row sums table, one
    (label, vec_id) aggregation, and a 10-partition window -- no
    all-pairs distance matrix anywhere."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    flat = (
        emb.select("vec_id", "label", F.posexplode("e").alias("pos", "val"))
        .select(
            "vec_id",
            "label",
            "pos",
            duck_round(F.col("val") * 100000).cast("long").alias("xq"),
        )
        .transform(pin_corpus)
    )
    sums = flat.groupBy("label", "pos").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dev = F.col("xq") * F.col("n") - F.col("s")
    d = (
        flat.join(broadcast(sums), ["label", "pos"])
        .select("label", "vec_id", (dev * dev).alias("dd"))
        .groupBy("label", "vec_id")
        .agg(F.sum("dd").cast("long").alias("d2"))
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(F.desc("d2"), F.asc("vec_id"))
    )
    return (
        d.withColumn("rk", rk).filter(F.col("rk") <= 5).select("label", "vec_id", "d2")
    )


@query(
    "q_bm25",
    oracle="""
    WITH tk AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               string_split(text, ' ') AS toks
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM tk
    ),
    tf AS (
        SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS w FROM tk)
        WHERE w IN ('spark', 'table', 'hash')
        GROUP BY doc_id, dl, w
    ),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    sc AS (
        SELECT f.doc_id,
               CAST(ROUND(
                   ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                            / (d.df + 0.5))
                   * ((CAST(f.tf AS DOUBLE) * 2.2)
                      / (CAST(f.tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE)
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))))
                   * 1000000) AS BIGINT) AS w_u6
        FROM tf f JOIN df d USING (w) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
           CAST(SUM(w_u6) AS BIGINT) AS bm25_u6
    FROM sc GROUP BY doc_id
    ORDER BY bm25_u6 DESC, doc_id LIMIT 20
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance scoring (round 8): top-20 documents for a
    fixed 3-term query under BM25 (k1=1.2, b=0.75, Lucene's
    ln(1 + (N - df + 0.5)/(df + 0.5)) IDF) -- the retrieval scorer a
    training-data pipeline runs for benchmark decontamination (find the
    corpus documents most relevant to an eval query) and
    quality-by-query-relevance ranking; TF-IDF's q_tfidf is the
    vector-space sibling, this is the probabilistic-relevance one.

    Cross-engine determinism: the unigram-logprob convention -- each
    (doc, term) BM25 weight is one straight-line IEEE expression written
    identically in both engines, quantized to integer micro-units
    (duck_round x 1e6), and the per-doc score is the commutative int64
    SUM of those -- immune to partition order; ties in the top-20 break
    on doc_id.

    Scale: doc stats (N, total length) are one map-side-combined scalar
    aggregate; the term-filtered explode keeps only query-term hits (the
    IN filter is pushed into the explode's narrow stage, so the shuffled
    tf relation is |matches|, not |tokens|); df is derived FROM tf (3
    rows, broadcast) -- no second corpus pass; the final top-20 is
    TakeOrdered (per-partition heaps + driver merge of 20-row heads),
    never a global sort. The (doc_id, dl, toks) pin is the
    q_unigram_logprob single-scan trade (stats + tf share one scan)."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.size(TOKS()).cast("long").alias("dl"),
        TOKS().alias("toks"),
    ).transform(pin_corpus)
    stats = tk.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        tk.select("doc_id", "dl", F.explode("toks").alias("w"))
        .filter(F.col("w").isin("spark", "table", "hash"))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    w_u6 = (
        duck_round(
            idf
            * (
                (F.col("tf").cast("double") * F.lit(2.2))
                / (
                    F.col("tf").cast("double")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75)
                        * (
                            F.col("dl").cast("double")
                            / (
                                F.col("sum_dl").cast("double")
                                / F.col("n_docs")
                            )
                        )
                    )
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("w_u6")
    )
    sc = (
        tf.join(broadcast(df), "w")
        .crossJoin(broadcast(stats))
        .select("doc_id", w_u6)
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            F.sum("w_u6").cast("long").alias("bm25_u6"),
        )
        .orderBy(F.desc("bm25_u6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "q_source_drift",
    oracle="""
    WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    sw AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM t GROUP BY source, tok
    ),
    w AS (SELECT tok, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY tok),
    ns AS (
        SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source
    ),
    n AS (SELECT CAST(SUM(c_sw) AS BIGINT) AS total FROM sw),
    contrib AS (
        SELECT sw.source,
               CAST(ROUND(
                   (CAST(sw.c_sw AS DOUBLE) / ns.n_s)
                   * ln((CAST(sw.c_sw AS DOUBLE) * n.total)
                        / (CAST(w.c_w AS DOUBLE) * ns.n_s))
                   * 1000000000) AS BIGINT) AS kl9
        FROM sw JOIN w USING (tok) JOIN ns USING (source) CROSS JOIN n
    )
    SELECT c.source, ns.n_s AS n_tokens,
           CAST(SUM(c.kl9) AS BIGINT) AS kl_n9
    FROM contrib c JOIN ns USING (source)
    GROUP BY c.source, ns.n_s
    """,
)
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift (round 8): KL divergence of each
    source's unigram distribution from the corpus-wide distribution,
    KL(P_s || P) = sum_w (c_sw/n_s) * ln((c_sw * n)/(c_w * n_s)) -- the
    corpus-monitoring pass a training pipeline runs per ingest batch to
    flag a crawl source whose language suddenly shifted (spam floods,
    encoding breakage, topic drift) before it pollutes the mixture;
    DoReMi-style domain reweighting reads the same statistic.

    Cross-engine determinism: each (source, word) contribution is one
    straight-line IEEE expression written identically in both engines,
    quantized to integer nano-nats (duck_round x 1e9), and the per-source
    KL is the commutative int64 SUM. Every P_s term also appears in P
    (c_w >= c_sw > 0), so no log-of-zero smoothing is needed -- KL is
    finite by construction.

    Scale: ONE corpus scan and ONE (source, word)-keyed shuffle build
    c_sw; the word-marginal c_w, source-marginal n_s, and scalar n are
    all re-aggregations OF the pinned c_sw relation (vocab-x-sources
    sized, far below corpus size) -- no second pass over the tokens. The
    word-marginal join-back carries a vocab-size broadcast hint (the
    q_unigram_logprob convention); the 20-row n_s and scalar n are
    broadcast. At 100 TB the only corpus-sized traffic is the one
    explode shuffle, which a pretrained vocabulary table would remove."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", F.explode(TOKS()).alias("tok"))
    sw = (
        t.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .transform(pin_corpus)
    )
    w = sw.groupBy("tok").agg(F.sum("c_sw").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    n = sw.agg(F.sum("c_sw").alias("total"))
    kl9 = (
        duck_round(
            (F.col("c_sw").cast("double") / F.col("n_s"))
            * F.log(
                (F.col("c_sw").cast("double") * F.col("total"))
                / (F.col("c_w").cast("double") * F.col("n_s"))
            )
            * 1000000000
        )
        .cast("long")
        .alias("kl9")
    )
    contrib = (
        sw.join(broadcast(w), "tok")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(n))
        .select("source", kl9)
    )
    return (
        contrib.groupBy("source")
        .agg(F.sum("kl9").cast("long").alias("kl_n9"))
        .join(broadcast(ns), "source")
        .select("source", F.col("n_s").alias("n_tokens"), "kl_n9")
    )


@query(
    "q_prefix_dedup",
    oracle="""
    WITH p AS (
        SELECT doc_id, source,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
        FROM documents
    )
    SELECT prefix,
           CAST(COUNT(*) AS BIGINT)                AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT)  AS n_sources,
           CAST(MIN(doc_id) AS BIGINT)             AS min_doc_id
    FROM p GROUP BY prefix HAVING COUNT(*) >= 2
    """,
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix clustering (round 8): group documents by their
    first-8-token prefix and report every cluster shared by >= 2 docs
    (size, distinct-source spread, representative min doc_id). Crawl
    corpora are full of template families -- cookie banners, forum
    headers, SEO spam -- that exact dedup misses (bodies differ) and
    MinHash dilutes (long unique tails swamp the shared head); keying on
    the document HEAD is the standard cheap detector, and the source
    spread separates a site template (1 source) from a syndicated
    boilerplate plague (many sources).

    Cross-engine determinism: the prefix is a pure string expression
    (slice + join, shorter docs keep their full token list on both
    engines); all outputs are exact integers or the prefix string itself.

    Scale: ONE corpus scan, ONE shuffle keyed on the prefix string (a
    map-side-combined groupBy; COUNT(DISTINCT source) is Spark's two-
    phase distinct aggregate on the same key -- no extra scan). Output is
    cluster-cardinality-sized. A hot prefix only concentrates its own
    GROUP -- the partial aggregate absorbs it map-side, so no salting is
    needed at 100 TB. The prefix length is the recall/precision knob; 8
    tokens matches the fixture's doc lengths (FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(TOKS(), 1, 8), " ").alias("prefix")
    return (
        d.select(prefix, "source", "doc_id")
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


@query(
    "q_source_overlap",
    oracle="""
    WITH t AS (SELECT source, string_split(text, ' ') AS l FROM documents),
    g0 AS (
        SELECT source,
               unnest([array_to_string(l[i+1:i+3], ' ')
                       for i in range(0, len(l) - 2)]) AS gram
        FROM t
    ),
    g AS (SELECT DISTINCT source, gram FROM g0),
    ns AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM g GROUP BY source
    ),
    pr AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT pr.src_a, pr.src_b, pr.n_shared,
           CAST(ROUND(CAST(pr.n_shared AS DOUBLE)
                      / (na.n_sh + nb.n_sh - pr.n_shared), 4) AS DOUBLE)
               AS jaccard
    FROM pr JOIN ns na ON na.source = pr.src_a
            JOIN ns nb ON nb.source = pr.src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (round 8): word-trigram
    shingle-set Jaccard for every source pair that shares at least one
    shingle. Mixture design needs this BEFORE weighting (q_corpus_mixture
    treats sources as independent; two 0.4-Jaccard crawls are one source
    wearing two names), and it is the cross-SOURCE analogue of the
    per-pair q_ngram_jaccard / corpus-vs-benchmark q_contamination pair.

    Cross-engine determinism: set sizes and intersections are exact
    integers from DISTINCT aggregation; the Jaccard is one straight-line
    IEEE division rounded with the bit-exact duck_round mirror.

    Scale: ONE corpus scan builds the DISTINCT (source, shingle) relation
    (pinned -- it feeds both the per-source set sizes and both self-join
    sides; vocabulary-x-sources sized, far below corpus size). The
    intersection is an equi-join ON THE SHINGLE: after DISTINCT each
    shingle contributes <= S rows per side (S = source count, 20 here),
    so the worst-case join fan-out is |shingles| * S^2 -- bounded by the
    catalog, not the corpus. At thousands of sources, prefilter to
    rare-ish shingles (drop shingles present in > K sources: they add
    ~1.0 to every pair and carry no discrimination) -- the q_jaccard_sim
    hot-shingle cap, one WHERE on the pinned relation."""
    from ..operators.text import tokens_of, word_ngrams_from_tokens

    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", tokens_of("text").alias("_toks"))
        # token array materialized BEFORE the gram expression references
        # it (the word_ngrams quadratic trap -- 17x measured, r9)
        .select(
            "source",
            F.explode(word_ngrams_from_tokens(F.col("_toks"), 3)).alias("gram"),
        )
        .distinct()
        .transform(pin_corpus)  # one scan feeds sizes + both join sides
    )
    ns = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    pr = (
        g.select(F.col("source").alias("src_a"), "gram")
        .join(g.select(F.col("source").alias("src_b"), "gram"), "gram")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pr.join(
            broadcast(ns.select(F.col("source").alias("src_a"), F.col("n_sh").alias("na"))),
            "src_a",
        )
        .join(
            broadcast(ns.select(F.col("source").alias("src_b"), F.col("n_sh").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            duck_round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            )
            .cast("double")
            .alias("jaccard"),
        )
    )


# Slot count for q_source_overlap_sketch's MinHash signatures. 128 keeps
# the standard error of the slot-agreement Jaccard estimate ~
# 1/sqrt(128) ~ 0.09 while the whole pairwise stage reads S x 128
# signature rows instead of the exact query's |shingles| x S^2 join.
_OVERLAP_SKETCH_K = 128


def _source_overlap_sketch_oracle(k: int = _OVERLAP_SKETCH_K) -> str:
    """DuckDB oracle: the same affine MinHash family as q_dedup_minhash
    (md5-derived (a, b) literals inlined as a VALUES list -- the
    literal-inlined-constants recipe), slot-wise per-source minima, the
    agreement self-join, and the full pair matrix with 0 for
    no-agreement pairs."""
    from ..operators.dedup import _MERSENNE31, minhash_affine_consts

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_affine_consts(k))
    )
    return f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS l FROM documents),
    g0 AS (
        SELECT source,
               unnest([array_to_string(l[i+1:i+3], ' ')
                       for i in range(0, len(l) - 2)]) AS gram
        FROM t
    ),
    g AS (SELECT DISTINCT source, gram FROM g0),
    b AS (
        SELECT source,
               CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT)
                   % {_MERSENNE31} AS h
        FROM g
    ),
    c(slot, ca, cb) AS (VALUES {vals}),
    m AS (
        SELECT b.source, c.slot,
               MIN((c.ca * b.h + c.cb) % {_MERSENNE31}) AS mh
        FROM b CROSS JOIN c GROUP BY 1, 2
    ),
    agree AS (
        SELECT x.source AS src_a, y.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_agree
        FROM m x JOIN m y
          ON x.slot = y.slot AND x.mh = y.mh AND x.source < y.source
        GROUP BY 1, 2
    ),
    s AS (SELECT DISTINCT source FROM g),
    p AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM s a JOIN s b ON a.source < b.source
    )
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(agree.n_agree, 0) AS BIGINT) AS n_agree,
           CAST(COALESCE(agree.n_agree, 0) * 10000 // {k} AS BIGINT)
               AS est_jaccard_bp
    FROM p LEFT JOIN agree
      ON agree.src_a = p.src_a AND agree.src_b = p.src_b
    """


@query("q_source_overlap_sketch", oracle=_source_overlap_sketch_oracle())
def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched cross-source contamination matrix (round 9): the
    at-scale path for q_source_overlap, whose exact pair stage joins the
    full DISTINCT (source, shingle) relation against itself
    (|shingles| x S^2 fan-out). Slot-wise MinHash agreement instead:
    each source's shingle SET reduces to a K=128-slot signature (the
    q_dedup_minhash affine family over the portable md5-60-bit hash --
    per-slot min of (a_i*h + b_i) mod 2^31-1), and
    E[slot agreement] = Jaccard, so est_jaccard_bp =
    n_agree * 10000 div K -- the SAME estimator q_sketch_calibration
    calibrates against exact Jaccard deciles. Completes the repo's
    exact<->sketched pairing a third time: q_jaccard_sim <->
    q_dedup_minhash, q_dedup_incremental <-> q_dedup_bloom,
    q_source_overlap <-> this.

    Unlike the exact query (which emits only pairs sharing >= 1
    shingle), the sketch emits the FULL S*(S-1)/2 matrix: a pair with
    zero agreeing slots reports 0 bp -- "no evidence of overlap" is a
    row, not an absence.

    Measured design lesson (r9, kept as a warning): the first draft
    used the pairwise bottom-K-of-the-union estimator, which
    materializes pairs x 2K membership rows -- O(S^2 * K) REGARDLESS of
    overlap, measured 8x SLOWER than the exact join at S=500 (74.9s vs
    9.5s pair-stage-only at sf1r re-keyed to 500 sources). Slot
    agreement inverts that: the (slot, mh) equi-join emits a row ONLY
    where two sources actually agree in a slot, so the pair stage costs
    O(actual agreements) and the S^2 term survives only in the final
    tiny pair-list left join (no K factor). Same measurement: 7.9s
    INCLUDING the signature build over the 2.4M-row distinct relation
    -- and unlike the exact join, that cost does not grow with S^2.

    Cross-engine determinism: integers end-to-end over the portable
    hash family; the oracle inlines the 128 (a, b) literals (the
    literal-inlined-constants recipe) and est_jaccard_bp is floor
    division, exact in both engines.

    Scale: ONE corpus scan -> DISTINCT (source, shingle) (the same
    relation the exact query pins) -> one map-side-combined
    groupBy(source) evaluating the 128 lanes -> S x 128 signature rows.
    Everything after is signature-sized. At thousands of sources the
    exact query's shingle join fans out |shingles| x S^2 while this
    stays S x K + agreements."""
    from ..operators.dedup import (
        _MERSENNE31,
        minhash_affine_consts,
        portable_hash60,
    )
    from ..operators.text import tokens_of, word_ngrams_from_tokens

    k = _OVERLAP_SKETCH_K
    consts = minhash_affine_consts(k)
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", tokens_of("text").alias("_toks"))
        .select(
            "source",
            F.explode(word_ngrams_from_tokens(F.col("_toks"), 3)).alias("gram"),
        )
        .distinct()
        .transform(pin_corpus)  # feeds the signature build AND the source list
    )
    b = g.select("source", (portable_hash60(F.col("gram")) % _MERSENNE31).alias("h"))
    # r14 (optimization round): the 128 lane expressions and the 128-slot
    # melt are built as SQL STRINGS parsed JVM-side in ONE call each.
    # The previous per-lane Column composition (~8 py4j round trips per
    # lane, ~1000 total plus per-op re-analysis) cost ~3 s of pure
    # driver time per construction -- more than the query's entire
    # executor work at sf0.1. Identical expressions, identical plan,
    # identical values; only the build path changed.
    sig = b.groupBy("source").agg(
        *[
            F.expr(f"min(({a} * h + {bb}) % {_MERSENNE31}) AS m{i}")
            for i, (a, bb) in enumerate(consts)
        ]
    )
    melt = ", ".join(f"struct({i} AS slot, m{i} AS mh)" for i in range(k))
    m = sig.select(
        "source", F.expr(f"explode(array({melt}))").alias("x")
    ).select("source", F.col("x.slot").alias("slot"), F.col("x.mh").alias("mh"))
    m = m.transform(pin_corpus)  # S*K rows feed both agreement sides
    agree = (
        m.select(F.col("source").alias("src_a"), "slot", "mh")
        .join(m.select(F.col("source").alias("src_b"), "slot", "mh"), ["slot", "mh"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_agree"))
    )
    srcs = g.select("source").distinct()
    p = (
        srcs.select(F.col("source").alias("src_a"))
        .join(srcs.select(F.col("source").alias("src_b")))
        .where(F.col("src_a") < F.col("src_b"))
    )
    return p.join(agree, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce(F.col("n_agree"), F.lit(0)).cast("long").alias("n_agree"),
        F.expr(
            f"CAST(coalesce(n_agree, 0) * 10000 div {k} AS BIGINT)"
        ).alias("est_jaccard_bp"),
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    per AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM t GROUP BY 1, 2
    ),
    c AS (SELECT tok, CAST(SUM(c_sw) AS BIGINT) AS c FROM per GROUP BY tok),
    v AS (SELECT tok FROM c ORDER BY c DESC, tok ASC LIMIT 16),
    agg AS (
        SELECT per.source,
               CAST(SUM(per.c_sw) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN per.c_sw ELSE 0 END)
                    AS BIGINT) AS oov_tokens
        FROM per LEFT JOIN v ON per.tok = v.tok
        GROUP BY per.source
    )
    SELECT source, n_tokens, oov_tokens,
           CAST(ROUND(CAST(oov_tokens AS DOUBLE) * 10000 / n_tokens)
                AS BIGINT) AS oov_bp
    FROM agg
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit (round 8): induce the top-16
    corpus vocabulary (by frequency, ties lexicographic) and report each
    source's out-of-vocabulary token rate in basis points. This is the
    pre-flight for tokenizer training and reuse -- a source whose OOV
    rate spikes against the corpus vocabulary is encoding-broken,
    code-switched, or out-of-domain, and will fragment into rare tokens
    (the q_rare_token_ratio symptom, measured here at the SOURCE grain
    where the mixture decision is made). Top-16 of the fixture's 31-token
    vocabulary keeps both classes populated (FIXTURES.md).

    Cross-engine determinism: counts are exact integers; the vocabulary
    cut is a fully-ordered LIMIT (count desc, token asc -- unique key);
    oov_bp is one IEEE division through the bit-exact duck_round mirror.

    Scale: ONE corpus scan, ONE (source, token) shuffle; the corpus
    vocabulary and its top-16 cut are re-aggregations OF that pinned
    relation (vocab-x-sources sized), so no second pass. The vocabulary
    is a 16-row broadcast on the join-back; the top-K itself is
    TakeOrdered (per-partition heaps), not a global sort. At a real
    128k-entry BPE vocabulary the broadcast is still ~MB-scale."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", F.explode(TOKS()).alias("tok"))
    per = (
        t.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .transform(pin_corpus)  # feeds vocab induction AND coverage join
    )
    c = per.groupBy("tok").agg(F.sum("c_sw").alias("c"))
    v = (
        c.orderBy(F.desc("c"), F.asc("tok"))
        .limit(16)
        .select("tok", F.lit(1).alias("in_v"))
    )
    agg = (
        per.join(broadcast(v), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("c_sw").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_v").isNull(), F.col("c_sw")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("oov_tokens"),
        )
    )
    return agg.select(
        "source",
        "n_tokens",
        "oov_tokens",
        duck_round(
            F.col("oov_tokens").cast("double") * 10000 / F.col("n_tokens")
        )
        .cast("long")
        .alias("oov_bp"),
    )


_BPE_MERGES = 8


def _bpe_ctes(n_merges: int = _BPE_MERGES) -> list[str]:
    """Shared DuckDB CTE chain replaying bpe_train's merge loop exactly
    (operators/text.py): the word universe with frequencies, char-level
    initial states, then per round (pair counts over the current
    segmentation -> argmax with lexicographic tiebreak -> greedy
    left-to-right fold re-segmentation via list_reduce -- DuckDB's
    first-element-seeded fold is bpe_merge_fold_sql's NULL-seeded Spark
    ``aggregate`` evaluated on the same element order). Constant merge
    count => unrolled chain, the q_kmeans/pagerank oracle convention.
    Exposes ``m1..m{n}`` (l, r, cnt) and ``s{n}`` (tok, state, freq)."""
    fold = (
        "list_reduce(string_split(s.state, chr(31)), (acc, x) -> "
        "CASE WHEN x = m.r AND (acc = m.l "
        "OR ends_with(acc, chr(31) || m.l)) "
        "THEN left(acc, length(acc) - length(m.l)) || m.l || m.r "
        "ELSE acc || chr(31) || x END)"
    )
    ctes = [
        "w AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(string_split(text, ' ')) AS tok"
        " FROM documents) GROUP BY tok)",
        "s0 AS (SELECT tok, array_to_string(string_split_regex(tok, ''),"
        " chr(31)) AS state, freq FROM w)",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"p{k} AS (SELECT cs[i] AS l, cs[i+1] AS r, freq"
            f" FROM (SELECT string_split(state, chr(31)) AS cs, freq"
            f" FROM s{k - 1}), unnest(range(1, len(cs))) AS t(i))"
        )
        ctes.append(
            f"m{k} AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt"
            f" FROM p{k} GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"s{k} AS (SELECT s.tok, {fold} AS state, s.freq"
            f" FROM s{k - 1} s CROSS JOIN m{k} m)"
        )
    return ctes


def _bpe_train_oracle(n_merges: int = _BPE_MERGES) -> str:
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, l || r AS merged, cnt AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + "\n" + union


def _bpe_apply_oracle(n_merges: int = _BPE_MERGES) -> str:
    ctes = _bpe_ctes(n_merges)
    ctes.append(
        f"seg AS (SELECT tok, CAST(len(string_split(state, chr(31)))"
        f" AS BIGINT) AS np FROM s{n_merges})"
    )
    ctes.append(
        "t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok"
        " FROM documents)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT)   AS n_tokens,
           CAST(SUM(np) AS BIGINT)    AS n_pieces,
           CAST(SUM(CASE WHEN np = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_whole_tokens,
           CAST(ROUND(CAST(SUM(np) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
               AS pieces_per_token
    FROM t JOIN seg USING (tok) GROUP BY t.doc_id
    """
    )


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tok, freq) word universe with occurrence counts -- vocab-sized
    (the hash-universe argument: bounded by token diversity, never
    corpus rows), pinned so the training loop's per-round actions and
    the apply stage's segmentation share ONE corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TOKS()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .transform(pin_corpus)
    )


# Session-scoped BPE training memo (r14 optimization round): bpe_train is
# a deterministic training leg -- the merge list for a given (fixture,
# n_merges) is a pure value -- and THREE registry rows re-learn it from
# scratch per sweep (q_bpe_train, q_bpe_apply, q_stream_bpe_apply: 8
# argmax-collect jobs each). Same contract as _PQ_TRAIN_MEMO (the
# VERDICT-r11-sanctioned convention): keyed by live session object
# (WeakKeyDictionary) then (abs fixture dir, documents fingerprint,
# n_merges); values are plain Python tuples, so unlike the PQ memo there
# is no DataFrame->session strong reference to manage -- but the
# one-live-session clear is kept for symmetry so dead sessions' entries
# do not accumulate. Bench-reading consequence (PLANS.md): within one
# process the FIRST BPE row pays training; later rows and later reps
# time the serving path only, except q_bpe_train, which declares
# trains=_BPE_TRAIN_MEMO so a timing runner retrains it every rep
# (registry.reset_training). Every new process retrains from parquet.
import threading as _threading  # noqa: E402 -- also imported for the PQ memo below
import weakref as _weakref  # noqa: E402

_BPE_TRAIN_MEMO: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
_BPE_TRAIN_LOCK = _threading.Lock()


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """Source-identity key for the session training memos.

    r15 (ADVICE r14): for a DIRECTORY-shaped fixture, stat the PART
    FILES, not the directory -- rewriting a part file in place moves
    neither the dir's mtime nor its size, so a dir-level fingerprint
    could serve training results computed from stale data. Max mtime +
    total size + file count across the contained parquet files moves
    whenever any part is rewritten, added or removed."""
    import glob
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(p):
        p = os.path.join(sf_dir, table)
    if os.path.isdir(p):
        parts = glob.glob(os.path.join(p, "**", "*.parquet"),
                          recursive=True) or [p]
        mt = max(os.stat(f).st_mtime_ns for f in parts)
        sz = sum(os.stat(f).st_size for f in parts)
        return f"{mt:x}_{sz:x}_{len(parts)}"
    st = os.stat(p)
    return f"{st.st_mtime_ns:x}_{st.st_size:x}"


def _doc_fingerprint(sf_dir: str) -> str:
    return _table_fingerprint(sf_dir, "documents")


def _bpe_merges_of(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> list:
    import os

    from ..operators.text import bpe_train

    with _BPE_TRAIN_LOCK:
        if spark not in _BPE_TRAIN_MEMO:
            _BPE_TRAIN_MEMO.clear()
        per_session = _BPE_TRAIN_MEMO.setdefault(spark, {})
        key = (os.path.abspath(sf_dir), _doc_fingerprint(sf_dir), n_merges)
        hit = per_session.get(key)
        if hit is None:
            hit = bpe_train(_bpe_words(spark, sf_dir), n_merges)
            per_session[key] = hit
        return hit


@query("q_bpe_train", oracle=_bpe_train_oracle(), trains=_BPE_TRAIN_MEMO)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING at corpus scale (round 14, VERDICT r13 #6
    -- the one LLM-pipeline stage the registry didn't model): learn 8
    deterministic byte-pair merges over the documents corpus and emit
    the merge table (rank, left, right, merged symbol, weighted pair
    count). operators/text.py bpe_train.

    Shape: the corpus collapses ONCE to its distinct-word universe with
    counts (one token-keyed shuffle, map-side combine; vocab-sized
    thereafter -- the q_multimodal_phash_keep_one hash-universe trick).
    Each merge round is one pair-count aggregation over that bounded
    relation + a 1-row argmax collect (graph.py's convergence-scalar
    class) + a greedy left-to-right fold re-segmentation
    (Spark ``aggregate`` HOF), per-round localCheckpoint keeping
    lineage flat. At 100 TB the per-round cost is a vocab-sized agg --
    independent of corpus rows after the first scan.

    Cross-engine determinism: pair counts are exact integers; argmax
    ties break lexicographically on (left, right) in byte order (both
    engines' default collation); the fold is a sequential string fold
    both engines evaluate element-by-element in the same order (Spark
    NULL-seeded ``aggregate`` == DuckDB first-element-seeded
    ``list_reduce``), so the 8-round unrolled CTE chain replays
    training bit-for-bit. Fixture split sanity (sf0.001, DuckDB): round
    1 merges ('e','r') at weighted count 4650 out of a 31-word universe
    -- every round has a unique positive-count argmax at all 3 SFs."""
    merges = _bpe_merges_of(spark, sf_dir, _BPE_MERGES)
    rows = [
        (k + 1, left, right, left + right, cnt)
        for k, (left, right, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


@query("q_bpe_apply", oracle=_bpe_apply_oracle())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY stage: tokenize the corpus with the 8 learned merges
    (q_bpe_train's exact training leg via the _bpe_merges_of session
    memo -- trained once per process, the _PQ_TRAIN_MEMO convention) and
    report
    per-document subword statistics -- token count, piece count,
    fully-merged whole tokens, and pieces/token (the compression ratio
    a tokenizer team tracks; its OOV-free-by-construction coverage is
    the q_vocab_coverage audit's subword complement).

    Shape: segmentation applies ONLY to the distinct-token universe
    (8 chained folds as pure column expressions over the vocab-sized
    pinned relation -- linear expression growth, bpe_merge_fold_sql),
    then broadcast-joins back to the (doc, token) stream -- the
    q_unigram_logprob vocabulary-join convention. One corpus scan for
    the stream, the pinned universe for everything else.

    Cross-engine determinism: training replays exactly (see
    q_bpe_train); piece counts are exact integers; pieces_per_token is
    one IEEE division of exact integers through the duck_round mirror
    (terminating-denominator argument does not hold in general, but
    both engines round the SAME double, so the 4dp cut agrees)."""
    from ..operators.text import BPE_SEP, bpe_segment_expr

    words = _bpe_words(spark, sf_dir)
    merges = _bpe_merges_of(spark, sf_dir, _BPE_MERGES)
    seg = words.select(
        "tok",
        F.size(F.split(bpe_segment_expr("tok", merges), BPE_SEP))
        .cast("long")
        .alias("np"),
    )
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(TOKS()).alias("tok"))
    return (
        t.join(broadcast(seg), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("np").cast("long").alias("n_pieces"),
            F.sum(F.when(F.col("np") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_whole_tokens"),
            duck_round(F.sum("np") / F.count(F.lit(1)), 4)
            .cast("double")
            .alias("pieces_per_token"),
        )
    )


def _sketch_calibration_oracle() -> str:
    """DuckDB oracle for q_sketch_calibration: rebuild the portable
    16-lane MinHash signatures (md5-60 base, affine lanes -- identical
    literals to the Spark side), enumerate the banded candidate pairs,
    then count pairs per (signature-agreement, exact-Jaccard-decile)
    cell. Mirrors _minhash_oracle; the exact leg uses list_intersect
    on the distinct token sets and INTEGER decile division."""
    from ..operators.dedup import minhash_affine_consts

    lanes = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_affine_consts(16))
    )
    return f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 200
    ),
    bh AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
                   % 2147483647 AS h
        FROM t
    ),
    hs AS (
        SELECT doc_id, s.seed, MIN((s.a * bh.h + s.b) % 2147483647) AS mh
        FROM bh CROSS JOIN (
            SELECT * FROM (VALUES {lanes}) AS lanes(seed, a, b)
        ) s
        GROUP BY doc_id, s.seed
    ),
    bandvals AS (
        SELECT doc_id, seed // 2 AS band_idx,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
        FROM hs GROUP BY doc_id, seed // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandvals a JOIN bandvals b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    m AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                    AS INTEGER) AS mh_matches
        FROM cand c
        JOIN hs ha ON ha.doc_id = c.doc_a
        JOIN hs hb ON hb.doc_id = c.doc_b AND hb.seed = ha.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    sets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id < 200
    ),
    ex AS (
        SELECT m.mh_matches,
               CAST((10 * len(list_intersect(sa.toks, sb.toks)))
                    // (len(sa.toks) + len(sb.toks)
                        - len(list_intersect(sa.toks, sb.toks)))
                    AS INTEGER) AS exact_decile
        FROM m JOIN sets sa ON sa.doc_id = m.doc_a
               JOIN sets sb ON sb.doc_id = m.doc_b
    )
    SELECT mh_matches, exact_decile, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM ex GROUP BY mh_matches, exact_decile
    """


@query("q_sketch_calibration", oracle=_sketch_calibration_oracle())
def q_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch calibration (round 8): the joint histogram of
    (signature agreement count, exact Jaccard decile) over every LSH
    candidate pair -- the measurement you run BEFORE trusting a sketch
    configuration at 100 TB. The q_dedup_minhash pipeline's precision
    is governed by how tightly agreement/16 tracks true Jaccard; this
    query materializes that tracking as a contingency table (off-
    diagonal mass = sketch error; the k / bands knobs are tuned against
    exactly this curve). Same fixed probe set (doc_id < 200) and
    portable 16-lane signature family as q_dedup_minhash.

    Cross-engine determinism: signature agreement is an exact integer
    0..16 (est_jaccard is k_matches/16, a multiple of 1/16 -- binary-
    AND 4dp-exact, so est * 16 round-trips to the integer losslessly);
    the exact-Jaccard decile is INTEGER division (10 * |A&B|) div |AUB|
    -- no float crosses the engine boundary anywhere in the output.

    Scale: the pair space never materializes beyond the banded LSH
    collision set (minhash_candidates: (band_idx, band_hash)-keyed
    shuffle, pinned signatures); the exact leg verifies ONLY candidates
    via two id-keyed equi-joins against the pinned token-set relation
    (the minhash_verified_edges shape, operators/dedup.py:254). The
    output is a <=17x11-cell table -- driver-sized by construction."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sets = d.select(
        "doc_id", F.array_distinct(TOKS()).alias("toks")
    ).transform(pin_corpus)  # one scan feeds signatures AND exact verify
    cand = minhash_candidates(
        sets, "doc_id", F.col("toks"), k=16, bands=8, portable=True
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    ex = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")),
            "doc_b",
        )
        .select(
            duck_round(F.col("est_jaccard") * 16).cast("int").alias("mh_matches"),
            (F.lit(10) * inter).alias("ten_i"),
            (F.size("ta") + F.size("tb") - inter).alias("uni"),
        )
        .select(
            "mh_matches",
            F.expr("ten_i div uni").cast("int").alias("exact_decile"),
        )
    )
    return ex.groupBy("mh_matches", "exact_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# Recall@K for q_ann_recall. K=5 divides 10000 exactly, so recall_bp =
# n_hits * (10000 // K) is an integer with no rounding; defining K once
# and deriving the factor in BOTH the Spark agg and the oracle keeps a
# future retune from silently skewing recall_bp (ADVICE r8).
_ANN_RECALL_K = 5
assert 10000 % _ANN_RECALL_K == 0, "recall_bp must stay integer-exact"


def _ann_recall_oracle() -> str:
    """DuckDB oracle for q_ann_recall: both legs of the recall
    measurement -- the bucket-restricted IVF top-K (the _ann_ivf_oracle
    construction, same inlined hyperplane literals) and the
    unrestricted brute-force top-K -- joined per probe, K=_ANN_RECALL_K.
    Rank convention on both legs: (rounded sim DESC, cand_id ASC)."""
    from ..operators.similarity import _plane

    lits = [
        "[" + ", ".join(repr(x) for x in _plane(64, s)) + "]" for s in range(4)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lits[i]}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    vb AS (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
               {bucket} AS bucket
        FROM v
    ),
    p AS (
        SELECT vec_id AS probe_id, e AS pe, nrm AS pnrm, bucket AS pb
        FROM vb WHERE vec_id < 25
    ),
    ji AS (
        SELECT p.probe_id, c.vec_id AS cand_id,
               CAST(ROUND(list_dot_product(p.pe, c.e) / (p.pnrm * c.nrm), 4)
                    AS DOUBLE) AS sim
        FROM vb c JOIN p
          ON c.vec_id <> p.probe_id
         AND c.bucket IN (p.pb, xor(p.pb, 1), xor(p.pb, 2),
                          xor(p.pb, 4), xor(p.pb, 8))
    ),
    ivf5 AS (
        SELECT probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY sim DESC, cand_id) AS rk
            FROM ji
        ) WHERE rk <= {_ANN_RECALL_K}
    ),
    je AS (
        SELECT p.probe_id, c.vec_id AS cand_id,
               CAST(ROUND(list_dot_product(p.pe, c.e) / (p.pnrm * c.nrm), 4)
                    AS DOUBLE) AS sim
        FROM vb c JOIN p ON c.vec_id <> p.probe_id
    ),
    ex5 AS (
        SELECT probe_id, cand_id FROM (
            SELECT probe_id, cand_id,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY sim DESC, cand_id) AS rk
            FROM je
        ) WHERE rk <= {_ANN_RECALL_K}
    )
    SELECT e.probe_id,
           CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS n_hits,
           CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                * {10000 // _ANN_RECALL_K} AS INTEGER) AS recall_bp
    FROM ex5 e LEFT JOIN ivf5 i
      ON i.probe_id = e.probe_id AND i.cand_id = e.cand_id
    GROUP BY e.probe_id
    """


@query("q_ann_recall", oracle=_ann_recall_oracle())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall measurement (round 8): per-probe recall@5 of the
    q_ann_ivf multi-probe bucket search against the brute-force cosine
    top-5 ground truth -- the companion of q_sketch_calibration for the
    embedding path. Recall@k on a sampled probe set is THE acceptance
    metric for an ANN index configuration (bucket count, multi-probe
    fan-out) before it replaces brute force at corpus scale; this query
    IS that harness, with both legs inside one plan.

    Cross-engine determinism: both legs rank on (duck_round-ed sim DESC,
    cand_id ASC) -- the q_ann_ivf convention -- and the output is pure
    integers: n_hits and n_hits * (10000 // K) bp, with K defined ONCE
    (_ANN_RECALL_K, asserted to divide 1e4) and the factor derived in
    both the Spark agg and the oracle (ADVICE r8).

    Scale: the shared bucketed+normed vector relation is pinned (ONE
    embeddings scan feeds both legs). The IVF leg stays bucket-keyed as
    in q_ann_ivf. The exact leg is O(|probes| x N) BY DESIGN -- the
    ground-truth yardstick is bounded by the 25-probe sample, never
    corpus x corpus; at 100 TB you sample probes exactly like this and
    the yardstick cost stays |probes| x one-scan. Both top-5 selections
    are per-probe window ranks over candidate sets that AQE coalesces;
    the final per-probe join compares two 5-row-per-probe relations."""
    vb = with_norm(
        hyperplane_bucket(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            )
        )
    ).transform(pin_corpus)  # one scan feeds the IVF and exact legs
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(4)],
    )
    p = vb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        probe_buckets.alias("pbs"),
        F.col("nrm").alias("pnrm"),
    )
    sim = duck_round(
        dot_expr(F.col("pe"), F.col("e")) / (F.col("pnrm") * F.col("nrm")), 4
    ).cast("double")
    ivf5 = topk_per_probe(
        vb.join(
            broadcast(p),
            F.array_contains(F.col("pbs"), F.col("bucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        ).select("probe_id", F.col("vec_id").alias("cand_id"), sim.alias("sim")),
        k=_ANN_RECALL_K,
    ).select("probe_id", "cand_id")
    ex5 = topk_per_probe(
        vb.join(broadcast(p), F.col("vec_id") != F.col("probe_id")).select(
            "probe_id", F.col("vec_id").alias("cand_id"), sim.alias("sim")
        ),
        k=_ANN_RECALL_K,
    ).select("probe_id", F.col("cand_id").alias("hit_cand"))
    hits = ex5.join(
        ivf5,
        (ex5["probe_id"] == ivf5["probe_id"])
        & (ex5["hit_cand"] == ivf5["cand_id"]),
        "left",
    ).select(ex5["probe_id"].alias("probe_id"), ivf5["cand_id"].alias("matched"))
    return hits.groupBy("probe_id").agg(
        F.sum(F.when(F.col("matched").isNotNull(), 1).otherwise(0))
        .cast("int")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("matched").isNotNull(), 1).otherwise(0))
            * (10000 // _ANN_RECALL_K)
        )
        .cast("int")
        .alias("recall_bp"),
    )


@query("q_lang_entropy", oracle=LANG_MIX_ORACLE)
def q_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix purity (round 8): Shannon entropy of each
    source's language distribution in integer nano-nats, plus the
    dominant-language share in basis points. The mixture-design input
    one level above q_source_drift's token-level KL: a crawl source
    whose language entropy jumps between ingest batches changed its
    nature (new geo, spam flood, router misconfig) and needs re-weighing
    before q_corpus_mixture trusts its token counts; the top-share is
    the "is this source mono-lingual enough for the en-only mixture"
    gate. Entropy ~0 = pure source; ln(5) = 1.609e9 n9 = uniform over
    the fixture's 5 languages.

    Cross-engine determinism + the scoring block itself live in
    functions/langmix.py (lang_mix_scores / LANG_MIX_ORACLE), shared
    verbatim with q_stream_lang_mix so the nano-nat and bp conventions
    cannot drift between the batch and ingest-time variants (ADVICE r8).

    Scale: ONE corpus scan (projected to two metadata columns -- the
    parquet reader prunes text), ONE (source, lang) shuffle; per-source
    totals are a re-aggregation OF the pinned count relation and join
    back as a broadcast (sources x langs sized). Nothing downstream is
    row-cardinality-sized."""
    from ..functions.langmix import lang_mix_scores

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin_corpus)  # feeds totals AND the entropy terms
    )
    return lang_mix_scores(c)


def _knn_lane_cap_sql(n_planes: int = 4) -> str:
    """The auto max_block cap as a DuckDB scalar expression -- mirrors
    _mutual_knn_edges exactly: clamp(ceil(2n/B), 256, 1024), n from a
    scalar COUNT over the (possibly probe-filtered) vector CTE ``v``."""
    from ..operators.similarity import AUTO_BLOCK_MAX, AUTO_BLOCK_MIN

    return (
        f"LEAST({AUTO_BLOCK_MAX}, GREATEST({AUTO_BLOCK_MIN},"
        f" CAST(CEIL(2.0 * (SELECT COUNT(*) FROM v) / {2 ** n_planes})"
        f" AS BIGINT)))"
    )


def _knn_graph_oracle() -> str:
    """DuckDB oracle for q_knn_graph: the PRODUCTION auto-plane path
    (round 13, VERDICT r12 #8 -- the registry row no longer pins
    n_planes=4). The full AUTO_PLANES_MAX-bit hyperplane code is built
    from the same inlined plane literals as _ann_ivf_oracle, then masked
    to the census-derived width with a scalar subquery -- the
    q_semantic_dedup lane-cap mirroring pattern applied to the plane
    knob: planes = clamp(ceil(log2(n/AUTO_PLANES_TARGET)), 4, 16),
    identical double math (log2 then ceil) to _mutual_knn_edges'
    column expression, and code % 2^p IS the p-plane bucket (bit i of
    the code is plane i's sign). At every fixture SF (n <= 4096) p
    resolves to 4 and the bucket equals the old inlined-literal oracle
    bit-for-bit; at sf1r (20k vectors) p = 7, so the SCALING probe now
    measures the production path. The r9 auto-cap lane striping keeps
    the same clamp(ceil(2n/2^p), 256, 1024) mirror, then the
    (bucket, lane)-restricted directed 3-NN via window rank and the
    mutual filter as a reversed-pair self-join."""
    from ..operators.similarity import AUTO_BLOCK_MAX, AUTO_BLOCK_MIN, _plane

    lits = [
        "[" + ", ".join(repr(x) for x in _plane(64, s)) + "]"
        for s in range(AUTO_PLANES_MAX)
    ]
    code = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lits[i]}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(AUTO_PLANES_MAX)
    )
    planes = (
        f"LEAST({AUTO_PLANES_MAX}, GREATEST({AUTO_PLANES_MIN},"
        f" CAST(CEIL(LOG2((SELECT COUNT(*) FROM v)"
        f" / {AUTO_PLANES_TARGET}.0)) AS BIGINT)))"
    )
    lane_cap = (
        f"LEAST({AUTO_BLOCK_MAX}, GREATEST({AUTO_BLOCK_MIN},"
        f" CAST(CEIL(2.0 * (SELECT COUNT(*) FROM v)"
        f" / (SELECT nb FROM pp)) AS BIGINT)))"
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pp AS (SELECT CAST(POW(2.0, {planes}) AS BIGINT) AS nb),
    vb0 AS (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
               ({code}) % (SELECT nb FROM pp) AS bucket
        FROM v
    ),
    st AS (
        SELECT vec_id, e, nrm, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY bucket) AS c_n
        FROM vb0
    ),
    vb AS (
        SELECT vec_id, e, nrm, bucket,
               (rn - 1) % CAST(CEIL(c_n / {lane_cap}) AS BIGINT)
                   AS lane
        FROM st
    ),
    j AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4)
                    AS DOUBLE) AS sim
        FROM vb a JOIN vb b
          ON a.bucket = b.bucket AND a.lane = b.lane
         AND a.vec_id <> b.vec_id
    ),
    r AS (
        SELECT src, dst, sim,
               row_number() OVER (PARTITION BY src
                                  ORDER BY sim DESC, dst) AS rk
        FROM j
    ),
    k AS (SELECT src, dst, sim FROM r WHERE rk <= 3)
    SELECT x.src AS vec_a, x.dst AS vec_b, x.sim
    FROM k x JOIN k y ON y.src = x.dst AND y.dst = x.src
    WHERE x.src < x.dst
    """


#: ``n_planes="auto"`` sizing: planes = clamp(ceil(log2(n / 256)), 4,
#: 16) -- hold expected bucket occupancy near 256 rows (the same
#: balanced-occupancy constant as AUTO_BLOCK_MIN), growing ~log2(n) as
#: recall-preserving scaling requires. At every fixture SF (<= 4096
#: vectors) auto == 4, bit-identical to the oracle's inlined plane
#: literals (pinned by tests/test_plans.py); at the r9 sf1r fixture
#: (20k vectors) auto == 7, exactly the knob setting the PLANS.md
#: measurement found 9.5x faster at 0.5% edge loss.
AUTO_PLANES_TARGET = 256
AUTO_PLANES_MIN = 4
AUTO_PLANES_MAX = 16


def _mutual_knn_edges(
    spark: SparkSession, sf_dir: str, max_vec_id: int | None = None,
    n_planes: int | str = "auto",
    max_block: int | str | None = "auto",
):
    """Shared construction for q_knn_graph / q_semantic_clusters: the
    mutual 3-NN edge list (vec_a < vec_b, sim) plus the node universe
    (both derived from ONE pinned bucketed+normed embeddings scan).
    ``max_vec_id`` bounds the block (the q_dedup_clusters probe-set
    convention) for callers whose downstream cost is round-count-bound.
    ``n_planes`` is the production occupancy knob: per-bucket pair work
    is ~(n/2^planes)^2, so planes must grow ~log2(n) to hold per-bucket
    cost flat (r9 sf1r measurement in PLANS.md: 4 -> 7 planes at 20k
    vectors; recall falls with bucket size exactly as q_ann_recall
    measures).

    ``n_planes="auto"`` (round 10, VERDICT r9 #5) derives that growth
    from the SAME occupancy census the lane cap uses, fully
    declaratively: sign bits are computed for AUTO_PLANES_MAX planes
    up front, and the effective bucket is the full code masked to
    clamp(ceil(log2(n / AUTO_PLANES_TARGET)), 4, 16) low bits -- a
    column expression over the broadcast 1-row census, no driver-side
    count, and masking to p bits is EXACTLY the bucket the first p
    planes would have produced (bit i of the code is plane i's sign).
    The production default therefore never enters the cap-dominated
    regime the lane cap exists to rescue: planes grow with the corpus,
    and the cap stays the straggler backstop rather than the primary
    bound. Cost: 16 plane dots per row instead of 4 -- linear, and
    dwarfed by the within-bucket pair stage it shrinks. At every
    fixture SF auto == 4 bit-identically (<= 4096 vectors), which is
    why the registry oracles' inlined 4-plane literals stay exact at
    every grading SF.

    ``max_block`` (round 9 -- the q_semantic_dedup bounded-default
    treatment, VERDICT r8 #1 generalized to the other within-block
    pair operator): buckets above the occupancy-census cap
    clamp(ceil(2n/B), 256, 1024) are striped into id-round-robin lanes
    and candidates come from the SAME (bucket, lane) only -- total
    pair work <= n * 1024, LINEAR in n even when the plane count lags
    the corpus (the sf1r table's 30x entry). The trade is neighbor
    recall inside oversize buckets; "auto" never engages while buckets
    sit within 2x of balanced occupancy (every fixture SF -- output
    provably unchanged there, lanes == 1), None is the uncapped
    opt-in, and the cap is a scalar-subquery mirror in the oracle
    either way."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    if max_vec_id is not None:
        base = base.filter(F.col("vec_id") < max_vec_id)
    auto_planes = n_planes == "auto"
    built_planes = AUTO_PLANES_MAX if auto_planes else int(n_planes)
    # r15 (optimization round, guide section 2.4): the pin moved from
    # HERE (pre-census) to AFTER the census/mask/lane annotation below.
    # Pinned this early, every downstream reference re-evaluated the
    # census crossJoin + the two lane windows -- the r14 plan computed
    # that subtree FOUR times (a/b sides x k/rev legs of the mutual
    # join: 36 physical Exchanges). The census count pass now re-scans
    # the source once more (column-pruned count -- cheap) in exchange
    # for annotating lanes exactly once.
    vb = with_norm(hyperplane_bucket(base, n_planes=built_planes))
    need_census = auto_planes or max_block == "auto"
    if need_census:
        total = vb.agg(F.count(F.lit(1)).alias("_tot"))
        vb = vb.crossJoin(broadcast(total))
    if auto_planes:
        # Mask the full 16-bit code to the census-derived width: bit i
        # is plane i's sign, so code & (2^p - 1) IS the p-plane bucket.
        pcol = F.least(
            F.lit(AUTO_PLANES_MAX),
            F.greatest(
                F.lit(AUTO_PLANES_MIN),
                F.ceil(F.log2(F.col("_tot") / F.lit(AUTO_PLANES_TARGET))),
            ),
        ).cast("int")
        n_buckets = F.pow(F.lit(2.0), pcol).cast("long")
        vb = vb.withColumn(
            "bucket", F.col("bucket").bitwiseAND(n_buckets - F.lit(1))
        )
    else:
        n_buckets = F.lit(2 ** int(n_planes))
    if max_block is not None:
        from ..operators.similarity import AUTO_BLOCK_MAX, AUTO_BLOCK_MIN

        if max_block == "auto":
            cap = F.least(
                F.lit(AUTO_BLOCK_MAX),
                F.greatest(
                    F.lit(AUTO_BLOCK_MIN),
                    F.ceil(F.lit(2.0) * F.col("_tot") / n_buckets),
                ),
            )
        else:
            cap = F.lit(int(max_block))
        wc = Window.partitionBy("bucket").orderBy("vec_id")
        vb = (
            vb.withColumn("_rn", F.row_number().over(wc))
            .withColumn(
                "_c_n", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
            )
            .withColumn(
                "_lane",
                (F.col("_rn") - 1) % F.ceil(F.col("_c_n") / cap).cast("int"),
            )
            .drop("_rn", "_c_n", "_tot")
        )
    else:
        vb = vb.withColumn("_lane", F.lit(0))
    # ONE pinned lane-annotated candidate relation feeds both self-join
    # sides and the node universe (r15; was pinned pre-annotation).
    vb = vb.transform(pin_corpus)
    a = vb.select(
        F.col("vec_id").alias("src"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
        "_lane",
    )
    b = vb.select(
        F.col("vec_id").alias("dst"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
        "_lane",
    )
    sim = duck_round(
        dot_expr(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
    ).cast("double")
    # Byte-small relation, compute-huge within-bucket pair space: without
    # the pin AQE coalesces the shuffle read to ~1 task and serializes
    # N^2/B dot products (measured 173s at 10x data, r8 sf1 spot-run).
    # Shared audited implementation: plans/pinning.py pin_parallelism.
    a = pin_parallelism(a, "bucket", "_lane")
    b = pin_parallelism(b, "bucket", "_lane")
    j = (
        a.join(b, ["bucket", "_lane"])
        .where(F.col("src") != F.col("dst"))
        .select("bucket", "_lane", "src", "dst", sim.alias("sim"))
    )

    # Window keyed (bucket, _lane, src): src determines its bucket and
    # lane, so the groups are identical to partitionBy(src) -- but
    # HashPartitioning on {bucket, _lane} already satisfies
    # ClusteredDistribution({bucket, _lane, src}) (subset rule), so the
    # rank runs INSIDE the join partitions and the bounded candidate
    # relation never re-shuffles; only the N*k directed edge list moves
    # for the mutual join.
    w = Window.partitionBy("bucket", "_lane", "src").orderBy(
        F.desc("sim"), F.asc("dst")
    )
    k = (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("bucket", "_lane", "src", "dst", "sim")
    )
    # r15 (guide section 2.4): the mutual check used to be a self-join
    # of k against its reversed alias -- which re-evaluated the whole
    # within-bucket pair join + rank (the expensive stage) on BOTH legs
    # and paid two more Exchanges keyed (src, dst). But candidate pairs
    # only ever form INSIDE one (bucket, _lane) partition (each vector
    # belongs to exactly one bucket and one lane), so "both directions
    # present" is decidable locally: group the directed top-3 edges by
    # the unordered pair WITHIN the partition keys -- HashPartitioning
    # on {bucket, _lane} satisfies the aggregation's required clustering
    # (subset rule, same as the rank window above), so NO new exchange
    # -- and keep pairs seen from both sides. k is evaluated exactly
    # once by construction; no pin, no barrier, no reversed leg. `sim`
    # is taken from the (src < dst) directed row, exactly the row the
    # old join's `where(src < dst)` kept (the reverse row's sim is the
    # same dot product, but the selection makes equivalence structural
    # rather than arithmetic).
    edges = (
        k.groupBy(
            "bucket",
            "_lane",
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n_dir"),
            F.max(
                F.when(F.col("src") < F.col("dst"), F.col("sim"))
            ).alias("sim"),
        )
        .where(F.col("_n_dir") == 2)
        .select("vec_a", "vec_b", "sim")
    )
    return edges, vb.select("vec_id")


@query("q_knn_graph", oracle=_knn_graph_oracle())
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph construction (round 8): bucket-restricted
    directed 3-NN per vector, kept only where BOTH endpoints rank each
    other (the mutual filter that strips hubness) -- the standard input
    to graph-based clustering and to SemDeDup-style connected-component
    grouping one level up from q_semantic_dedup's star-shaped
    drop-higher-id rule. Every stage is the scale shape: candidates come
    from the hyperplane bucket EQUI-join (never all pairs), ranking is a
    per-source window inside the bucket partitions, and mutuality is an
    equi-join of the directed edge list against its own reversed pair.

    Cross-engine determinism: sims are duck_round-ed sequential-fold
    dots (bit-matching list_dot_product; sim(a,b)=sim(b,a) bit-exact
    because zip_with multiplies index-aligned and the fold order is
    identical), rank ties break on neighbor id, and the mutual filter
    is pure set logic on those deterministic top-3 sets.

    Scale: ONE embeddings scan (pinned bucketed+normed relation feeds
    both aliases). The self-join is keyed on bucket -- with B buckets
    the pair space is ~N^2/B per skew-free bucket, and a hot bucket is
    the q_semantic_dedup max-block story (salt oversized buckets, or
    add planes: B doubles per plane). Directed edges are N*k rows; the
    mutual join is (src, dst)-keyed -- uniform, broadcast-free.

    Round 13 (VERDICT r12 #8): the registry row runs the PRODUCTION
    n_planes="auto" path -- the oracle mirrors the census-derived plane
    count as a scalar subquery (the q_semantic_dedup lane-cap pattern),
    so the graded plan and the scaling probe are the same code. At
    every fixture SF auto masks to the same 4 bits the old pinned
    oracle inlined (results unchanged, pinned by tests/test_plans.py);
    past ~4096 vectors the bucket count grows with the corpus and the
    per-bucket pair space stays flat."""
    edges, _nodes = _mutual_knn_edges(spark, sf_dir)
    return edges


def _semantic_clusters_oracle() -> str:
    """DuckDB oracle for q_semantic_clusters: the _knn_graph_oracle
    construction for the mutual edge set, then the recursive-CTE
    transitive closure (the q_dedup_clusters pattern) with self-edges so
    isolated vectors are singleton components."""
    from ..operators.similarity import _plane

    lits = [
        "[" + ", ".join(repr(x) for x in _plane(64, s)) + "]" for s in range(4)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lits[i]}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )
    return f"""
    WITH RECURSIVE
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE vec_id < 500),
    vb0 AS (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
               {bucket} AS bucket
        FROM v
    ),
    st AS (
        SELECT vec_id, e, nrm, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY bucket) AS c_n
        FROM vb0
    ),
    vb AS (
        SELECT vec_id, e, nrm, bucket,
               (rn - 1) % CAST(CEIL(c_n / {_knn_lane_cap_sql()}) AS BIGINT)
                   AS lane
        FROM st
    ),
    j AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4)
                    AS DOUBLE) AS sim
        FROM vb a JOIN vb b
          ON a.bucket = b.bucket AND a.lane = b.lane
         AND a.vec_id <> b.vec_id
    ),
    r AS (
        SELECT src, dst, sim,
               row_number() OVER (PARTITION BY src
                                  ORDER BY sim DESC, dst) AS rk
        FROM j
    ),
    k AS (SELECT src, dst FROM r WHERE rk <= 3),
    mut AS (
        SELECT x.src AS a, x.dst AS b
        FROM k x JOIN k y ON y.src = x.dst AND y.dst = x.src
        WHERE x.src < x.dst
    ),
    sym AS (
        SELECT a AS src, b AS dst FROM mut
        UNION SELECT b, a FROM mut
        UNION SELECT vec_id, vec_id FROM vb
    ),
    walk(node, lbl) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT w.node, s.dst FROM walk w JOIN sym s ON w.lbl = s.src
    )
    SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM walk GROUP BY node
    """


@query("q_semantic_clusters", oracle=_semantic_clusters_oracle())
def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering via mutual-kNN components (round 8): the
    capstone composition of the embedding pipeline -- q_knn_graph's
    mutual 3-NN edges merged into connected components (component = MIN
    vec_id reachable; vectors with no mutual neighbor are singletons).
    This is the SemDeDup paper's grouping taken to its graph-native
    conclusion: where q_semantic_dedup drops within-cluster neighbors
    star-wise, components give the transitive semantic groups a curation
    pipeline keeps one representative of -- and the same output doubles
    as coarse topic assignment for mixture design.

    Cross-engine determinism: the edge set is q_knn_graph's (bit-exact
    rank on sequential-fold sims); component labels are pure min-label
    reachability -- integers only. The oracle is the recursive-CTE
    transitive closure over the same SQL-rebuilt edges, tractable
    because the fixture's mutual graph is sparse; the Spark side never
    materializes reachability (operators/graph.py): union-find on the
    driver for an edge list under its threshold, else large-star /
    small-star rounds of node-keyed shuffles.

    Scale: edge construction is the q_knn_graph plan (one pinned
    embeddings scan, bucket-keyed pair space, rank-in-place); components
    are the q_dedup_clusters machinery with per-node state; the node
    universe joins back from the SAME pinned relation -- no second
    embeddings scan (plan-audited). Bounded probe block (vec_id < 500,
    the q_dedup_clusters convention): it keeps the DuckDB oracle's
    recursive closure tractable, and the edge list (at most 3 per
    vector) stays far under the components' driver threshold, so the
    clustering is one bounded collect plus driver union-find. An
    unbounded caller uses the operator directly; past the threshold
    every round costs several JOBS regardless of data size, so pass a
    data-sized num_partitions."""
    # n_planes=4 pinned for the oracle's inlined plane literals (same
    # registry convention as q_knn_graph; production default is auto).
    edges, nodes = _mutual_knn_edges(spark, sf_dir, max_vec_id=500, n_planes=4)
    comp = connected_components(
        edges.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")),
        "src",
        "dst",
        num_partitions=8,
    )
    return (
        nodes.join(
            comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).cast("long").alias("component"),
        )
    )


def _ann_pq_ctes(
    m: int = 4, sub: int = 16, k: int = 16, iterations: int = 3,
    n_probes: int = 5,
) -> list[str]:
    """Shared CTE list for the q_ann_pq / q_ann_pq_recall oracles: one
    prefixed unrolled-k-means chain per subspace (codes = {p}a{iters}
    against codebook {p}c{iters-1} -- the encode contract
    kmeans_grouped_codebook_assign pins), then the ADC lookup as plain joins.
    Per-subspace distances quantize to integer micro-units BEFORE the
    cross-subspace sum, so the total is a commutative BIGINT sum --
    immune to double summation-order divergence between engines -- and
    the rank gate is integer-exact (no knife edges by construction).
    Ends with ``rk`` = (probe_id, vec_id, d2u, rnk)."""
    ctes: list[str] = []
    codes_sel, cents_sel, probe_sel = [], [], []
    for j in range(m):
        p = f"m{j}_"
        src = f"list_slice(CAST(embedding AS DOUBLE[]), {j * sub + 1}, {(j + 1) * sub})"
        ctes.extend(_kmeans_ctes(k, iterations, sub, prefix=p, src_expr=src))
        codes_sel.append(
            f"SELECT vec_id, {j} AS m, cluster AS code FROM {p}a{iterations}"
        )
        cents_sel.append(
            f"SELECT {j} AS m, cluster, ce FROM {p}c{iterations - 1}"
        )
        probe_sel.append(
            f"SELECT vec_id AS probe_id, {j} AS m, e AS q FROM {p}v"
            f" WHERE vec_id < {n_probes}"
        )
    ctes.append("codes AS (" + " UNION ALL ".join(codes_sel) + ")")
    ctes.append("cents AS (" + " UNION ALL ".join(cents_sel) + ")")
    ctes.append("probes AS (" + " UNION ALL ".join(probe_sel) + ")")
    pd2 = (
        "(list_dot_product(p.q, p.q) - 2 * list_dot_product(p.q, ct.ce)"
        " + list_dot_product(ct.ce, ct.ce))"
    )
    ctes.append(
        "pj AS (SELECT p.probe_id, c.vec_id,"
        f" CAST(ROUND({pd2} * 1000000) AS BIGINT) AS pd2_u"
        " FROM probes p JOIN codes c ON c.m = p.m"
        " JOIN cents ct ON ct.m = c.m AND ct.cluster = c.code"
        " WHERE c.vec_id <> p.probe_id)"
    )
    ctes.append(
        "tot AS (SELECT probe_id, vec_id, CAST(SUM(pd2_u) AS BIGINT) AS d2u"
        " FROM pj GROUP BY probe_id, vec_id)"
    )
    ctes.append(
        "rk AS (SELECT probe_id, vec_id, d2u, ROW_NUMBER() OVER ("
        "PARTITION BY probe_id ORDER BY d2u, vec_id) AS rnk FROM tot)"
    )
    return ctes


def _ann_pq_oracle(
    m: int = 4, sub: int = 16, k: int = 16, iterations: int = 3,
    n_probes: int = 5, topk: int = 3,
) -> str:
    ctes = _ann_pq_ctes(m, sub, k, iterations, n_probes)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT probe_id, vec_id, CAST(rnk AS INT) AS rnk,"
        f" CAST(d2u / 1000000.0 AS DOUBLE) AS ad2"
        f" FROM rk WHERE rnk <= {topk}"
    )


def _ann_pq_recall_oracle(
    m: int = 4, sub: int = 16, k: int = 16, iterations: int = 3,
    n_probes: int = 5, topk: int = 3,
) -> str:
    """q_ann_pq_recall: the PQ chain plus an exact-L2 ground-truth leg
    over the full quantized vectors; recall = how many of each probe's
    exact top-k survive in the ADC top-k. The exact leg's rank gate is
    ALSO integer micro-units (same convention as the ADC leg), so the
    whole query is knife-edge-free."""
    ctes = _ann_pq_ctes(m, sub, k, iterations, n_probes)
    ctes.append(
        "fv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> ROUND(x * 1000000) / 1000000.0) AS e FROM embeddings)"
    )
    ed2 = (
        "(list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, b.e)"
        " + list_dot_product(b.e, b.e))"
    )
    ctes.append(
        f"exact AS (SELECT a.vec_id AS probe_id, b.vec_id,"
        f" ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY"
        f" CAST(ROUND({ed2} * 1000000) AS BIGINT), b.vec_id) AS rnk"
        f" FROM fv a JOIN fv b ON b.vec_id <> a.vec_id"
        f" WHERE a.vec_id < {n_probes})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT e.probe_id, CAST(COUNT(p.vec_id) AS INT) AS n_hits"
        f" FROM (SELECT probe_id, vec_id FROM exact WHERE rnk <= {topk}) e"
        f" LEFT JOIN (SELECT probe_id, vec_id FROM rk WHERE rnk <= {topk}) p"
        f" ON p.probe_id = e.probe_id AND p.vec_id = e.vec_id"
        f" GROUP BY e.probe_id"
    )


_PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS = 4, 16, 16, 3

# Session-scoped memo of the PQ/IVFPQ TRAINING leg (VERDICT r11 #7):
# codebook training is deterministic (1e-6-quantized inputs, exact
# long-sum means, cluster-id tiebreaks), so within one session the
# (codes, codebook) pair for a given (fixture, knobs) is a pure value --
# re-running Lloyd's for q_ann_pq_recall right after q_ann_pq (or for a
# second invocation of either) recomputes bit-identical rows. The memo
# returns the SAME non-eager localCheckpoint, so a parity/bench sweep
# trains each config once per session instead of twice (the recall twin
# reuses its base query's leg). Keyed on the live Python SparkSession
# object via WeakKeyDictionary (NOT id(jvm session): CPython can reuse
# a collected wrapper's id for a new session, which would serve
# checkpointed DataFrames of a dead SparkContext), then by absolute
# fixture dir + source fingerprint (mtime/size of the embeddings
# relation, so a regenerated fixture invalidates) + every training
# knob. Values are unchanged by construction; only repeated WORK is
# skipped -- the same contract as pin_corpus, held across queries
# instead of across subtrees. The four PQ/IVFPQ rows declare
# trains=_PQ_TRAIN_MEMO, which a timing runner clears before every rep.
#
# Lifecycle caveat (r13 review): the memo VALUES are DataFrames, and a
# DataFrame strongly references its SparkSession -- i.e. the value
# references the weak KEY, so weak keying alone cannot release a dead
# session's entry (the classic WeakKeyDictionary pitfall). The
# explicit clear in _trained_codebook handles it: this repo runs one
# live session per process (the get_spark convention), so when a NEW
# session first trains, every other session's entries are dropped --
# dead sessions and their checkpointed frames release at the next
# training call instead of accumulating for the process lifetime.
import threading as _threading
import weakref as _weakref

_PQ_TRAIN_MEMO: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
#: Guards the check-then-clear + setdefault + train sequence below
#: (ADVICE r13): parity_all's thread pool can race two misses into two
#: trainings of the same codebook -- wasted work only (values are
#: deterministic), but the lock makes the memo's train-once contract
#: actually hold under the sanctioned in-process parallelism.
_PQ_TRAIN_LOCK = _threading.Lock()


def _emb_fingerprint(sf_dir: str) -> str:
    # part-file-level fingerprint for dir-shaped fixtures (ADVICE r14);
    # shared helper next to _doc_fingerprint.
    return _table_fingerprint(sf_dir, "embeddings")


def _trained_codebook(
    spark: SparkSession, sf_dir: str, vm: DataFrame,
    m: int, sub: int, k: int, iterations: int,
) -> tuple[DataFrame, DataFrame]:
    """Memoized kmeans_grouped_codebook_assign over the subspace melt
    ``vm`` -- see _PQ_TRAIN_MEMO. Returns (codes_full, cents), both
    pinned."""
    import os

    from ..operators.kmeans import kmeans_grouped_codebook_assign

    with _PQ_TRAIN_LOCK:
        if spark not in _PQ_TRAIN_MEMO:
            # one live session per process (get_spark convention): a new
            # session's first training call evicts every other session's
            # entries, releasing dead sessions the value->session strong
            # reference would otherwise pin forever (see memo comment).
            _PQ_TRAIN_MEMO.clear()
        per_session = _PQ_TRAIN_MEMO.setdefault(spark, {})
        key = (
            os.path.abspath(sf_dir),
            _emb_fingerprint(sf_dir), m, sub, k, iterations,
        )
        hit = per_session.get(key)
        if hit is None:
            codes_full, cents = kmeans_grouped_codebook_assign(
                vm, k=k, iterations=iterations
            )
            hit = (
                codes_full.localCheckpoint(eager=False),
                cents.localCheckpoint(eager=False),
            )
            per_session[key] = hit
        return hit
_PQ_PROBES, _PQ_TOPK = 5, 3


@query(
    "q_ann_pq",
    oracle=_ann_pq_oracle(_PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS,
                          _PQ_PROBES, _PQ_TOPK),
    trains=_PQ_TRAIN_MEMO,
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the 64-dim space
    into 4 subspaces of 16 dims, train a deterministic 16-centroid
    codebook per subspace (operators/kmeans.py arithmetic: 1e-6
    quantized inputs, expanded-identity distances, exact long-sum
    means), encode every vector as 4 one-byte codes, and answer probes
    by ASYMMETRIC DISTANCE COMPUTATION: the probe's exact sub-vector
    against the centroid of each database vector's code, summed across
    subspaces -- top-3 neighbors per probe (rank ties break on vec_id).

    This is the 100 TB MEMORY story of the similarity family: 64 x 8 B
    doubles -> 4 x 1 B codes (128x), so the serving scan reads the
    4-byte code column plus one broadcast codebook (m*k = 64 rows)
    instead of the embedding column -- IVF (q_ann_ivf) prunes WHICH
    rows are scanned, PQ shrinks WHAT each row costs; production
    systems compose both. Training at 100 TB runs on a sample; here
    the fixture corpus is the sample.

    Determinism / oracle exactness: per-subspace ADC distances follow
    the kmeans fold conventions (both engines evaluate the identical
    double), then quantize to integer MICRO-UNITS before the
    cross-subspace sum -- a commutative BIGINT sum, so neither Spark's
    partial-aggregation order nor DuckDB's changes the total, and the
    top-k gate ranks INTEGERS (no rounded-double knife edge exists in
    this query by construction). The oracle unrolls one prefixed
    k-means CTE chain per subspace; codes are a{iters} assigned against
    codebook c{iters-1} -- kmeans_grouped_codebook_assign exists precisely
    because kmeans() returns the post-assignment update, and an
    off-by-one-update codebook biases every ADC distance.

    Scale: the encode is 4 bounded k-means runs (per iteration: one
    k*sub-double broadcast + one (cluster, dim) shuffle); the serving
    path is ONE scan of the n x 4 code relation joined to two
    broadcasts (64-row codebook, probe-bounded sub-vectors), one
    map-side-combinable integer sum keyed (probe, vec), and a
    WindowGroupLimit top-k -- no vector-cardinality shuffle carries
    doubles, which is the point of PQ."""
    from ..operators.kmeans import quantize_vec

    emb = pin_corpus(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    # (vec_id, m, e_sub): one long relation, all 4 subspaces -- trained
    # JOINTLY (one broadcast + one shuffle per Lloyd's iteration for
    # every subspace at once, instead of 4 serialized runs; measured
    # 8.7 -> ~3 s at sf0.1, bit-identical codes). r14: one posexplode
    # pass instead of an m-branch unionAll (operators/ann_index.py
    # _subspace_split rationale) -- same rows, one read of the pin.
    from ..operators.ann_index import _subspace_split

    vm = _subspace_split(emb, _PQ_M, _PQ_SUB)
    codes_full, cents = _trained_codebook(
        spark, sf_dir, vm, _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    )
    codes = codes_full.select("vec_id", "m", F.col("cluster").alias("code"))
    probes = vm.filter(F.col("vec_id") < _PQ_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        "m",
        quantize_vec("e").alias("q"),
    )
    pd2 = (
        dot_expr(F.col("q"), F.col("q"))
        - 2 * dot_expr(F.col("q"), F.col("ce"))
        + dot_expr(F.col("ce"), F.col("ce"))
    )
    cents_a = cents.select(
        F.col("m").alias("cm"), F.col("cluster"), F.col("ce")
    )
    probes_a = probes.select(
        F.col("probe_id"), F.col("m").alias("pm"), F.col("q")
    )
    pj = (
        codes.join(
            broadcast(cents_a),
            (F.col("m") == F.col("cm")) & (F.col("code") == F.col("cluster")),
        )
        .join(broadcast(probes_a), F.col("m") == F.col("pm"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            duck_round(pd2 * F.lit(1_000_000.0)).cast("long").alias("pd2_u"),
        )
    )
    tot = pj.groupBy("probe_id", "vec_id").agg(
        F.sum("pd2_u").cast("long").alias("d2u")
    )
    w = Window.partitionBy("probe_id").orderBy("d2u", "vec_id")
    return (
        tot.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select(
            "probe_id",
            "vec_id",
            F.col("rnk").cast("int").alias("rnk"),
            (F.col("d2u") / F.lit(1_000_000.0)).cast("double").alias("ad2"),
        )
    )


@query(
    "q_ann_pq_recall",
    oracle=_ann_pq_recall_oracle(_PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS,
                                 _PQ_PROBES, _PQ_TOPK),
    trains=_PQ_TRAIN_MEMO,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the PQ/ADC search (q_ann_pq) against exact-L2 ground
    truth -- the tuning harness for the PQ knobs, the same role
    q_ann_recall plays for the IVF path: at 100 TB you pick (M
    subspaces, K centroids) by running THIS on a sample until recall
    clears the product bar, because PQ's 128x memory cut is only as
    good as the recall it keeps. Output: (probe_id, n_hits) with
    n_hits = |exact top-3 ∩ ADC top-3| per probe.

    Both legs rank by INTEGER micro-unit distances (the q_ann_pq
    convention applied to the exact leg too: d2 is the same
    expanded-identity fold both engines evaluate bit-identically, then
    ROUND(x*1e6)::BIGINT before the rank) -- no rounded-double gate
    anywhere, so the recall count is exact by construction, not by
    knife-edge argument.

    Scale: the exact leg is probe-bounded (P broadcast rows x corpus,
    the q_cosine_topk shape); the PQ leg shares q_ann_pq's plan. The
    fixture's measured recall (organic ~N(0,1/8) residual geometry) is
    what the harness exists to surface -- quantization error vs k/M is
    a data property, not a constant."""
    from ..operators.kmeans import quantize_vec

    pq_top = q_ann_pq(spark, sf_dir).select(
        "probe_id", F.col("vec_id").alias("pq_vec")
    )
    fv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        quantize_vec(F.col("embedding").cast("array<double>")).alias("e"),
    )
    probes = fv.filter(F.col("vec_id") < _PQ_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    d2 = (
        dot_expr(F.col("pe"), F.col("pe"))
        - 2 * dot_expr(F.col("pe"), F.col("e"))
        + dot_expr(F.col("e"), F.col("e"))
    )
    scored = (
        fv.crossJoin(broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            duck_round(d2 * F.lit(1_000_000.0)).cast("long").alias("d2u"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("d2u", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("probe_id", "vec_id")
    )
    return (
        exact.join(
            pq_top,
            (exact["probe_id"] == pq_top["probe_id"])
            & (exact["vec_id"] == pq_top["pq_vec"]),
            "left",
        )
        .groupBy(exact["probe_id"].alias("probe_id"))
        .agg(F.count(pq_top["pq_vec"]).cast("int").alias("n_hits"))
    )


# IVF x PQ composition knobs (round 11, VERDICT r10 #2). Tuned by the
# (M, K, shortlist) recall sweep recorded in PLANS.md: M=16 subspaces of
# 4 dims x K=64 centroids (96 code bits) with a 40-candidate ADC
# shortlist + exact re-rank reaches the IVF coverage CEILING at every
# fixture SF (recall@3 = 0.48 / 0.44 / 0.5733 at sf0.001/0.01/0.1 =
# exactly the fraction of true neighbors the 5-bucket multi-probe set
# admits), i.e. the PQ stage loses NOTHING on top of the IVF pruning --
# and ties the exact-rank IVF baseline (q_ann_ivf's ranking) the
# VERDICT r10 bar asks it to meet. The serving knobs are per-deployment:
# at 100 TB you re-run the q_ann_ivfpq_recall harness on a sample.
_IVFPQ_M, _IVFPQ_SUB, _IVFPQ_K, _IVFPQ_ITERS = 16, 4, 64, 3
_IVFPQ_PROBES, _IVFPQ_SHORTLIST, _IVFPQ_TOPK = 25, 40, 3


def _ann_ivfpq_ctes(
    m: int = _IVFPQ_M, sub: int = _IVFPQ_SUB, k: int = _IVFPQ_K,
    iterations: int = _IVFPQ_ITERS, n_probes: int = _IVFPQ_PROBES,
    shortlist: int = _IVFPQ_SHORTLIST,
) -> list[str]:
    """Shared CTE list for the q_ann_ivfpq / q_ann_ivfpq_recall oracles:
    the q_ann_pq codebook chains PLUS the q_ann_ivf sign-LSH candidate
    gate (planes inlined as literals, 5-bucket multi-probe), an ADC
    shortlist of ``shortlist`` rows per probe, and an exact-L2 re-rank
    of the shortlist. All three rank gates (shortlist, re-rank, and the
    recall leg) order INTEGER micro-units with vec_id tiebreak -- the
    q_ann_pq knife-edge-free convention end to end. Ends with ``rrk`` =
    (probe_id, vec_id, d2e_u, rnk)."""
    from ..operators.similarity import _plane

    ctes: list[str] = []
    codes_sel, cents_sel, probe_sel = [], [], []
    for j in range(m):
        p = f"m{j}_"
        src = (
            f"list_slice(CAST(embedding AS DOUBLE[]),"
            f" {j * sub + 1}, {(j + 1) * sub})"
        )
        ctes.extend(_kmeans_ctes(k, iterations, sub, prefix=p, src_expr=src))
        codes_sel.append(
            f"SELECT vec_id, {j} AS m, cluster AS code FROM {p}a{iterations}"
        )
        cents_sel.append(
            f"SELECT {j} AS m, cluster, ce FROM {p}c{iterations - 1}"
        )
        probe_sel.append(
            f"SELECT vec_id AS probe_id, {j} AS m, e AS q FROM {p}v"
            f" WHERE vec_id < {n_probes}"
        )
    ctes.append("codes AS (" + " UNION ALL ".join(codes_sel) + ")")
    ctes.append("cents AS (" + " UNION ALL ".join(cents_sel) + ")")
    ctes.append("probes AS (" + " UNION ALL ".join(probe_sel) + ")")
    # IVF gate over the SAME 1e-6-quantized grid the codebooks train on
    # (q_ann_ivf buckets raw doubles; here one vector representation
    # feeds bucket, codes, and re-rank -- both engines quantize first,
    # so the sign gate stays bit-identical).
    lits = [
        "[" + ", ".join(repr(x) for x in _plane(64, s)) + "]" for s in range(4)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lits[i]}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )
    ctes.append(
        "fq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> ROUND(x * 1000000) / 1000000.0) AS e FROM embeddings)"
    )
    ctes.append(f"vbk AS (SELECT vec_id, {bucket} AS bucket FROM fq)")
    ctes.append(
        f"pbk AS (SELECT vec_id AS probe_id, bucket AS pb FROM vbk"
        f" WHERE vec_id < {n_probes})"
    )
    ctes.append(
        "cand AS (SELECT p.probe_id, c.vec_id FROM vbk c JOIN pbk p"
        " ON c.vec_id <> p.probe_id"
        " AND c.bucket IN (p.pb, xor(p.pb, 1), xor(p.pb, 2),"
        " xor(p.pb, 4), xor(p.pb, 8)))"
    )
    pd2 = (
        "(list_dot_product(p.q, p.q) - 2 * list_dot_product(p.q, ct.ce)"
        " + list_dot_product(ct.ce, ct.ce))"
    )
    ctes.append(
        "pj AS (SELECT p.probe_id, c.vec_id,"
        f" CAST(ROUND({pd2} * 1000000) AS BIGINT) AS pd2_u"
        " FROM probes p JOIN codes c ON c.m = p.m"
        " JOIN cents ct ON ct.m = c.m AND ct.cluster = c.code"
        " JOIN cand cd ON cd.probe_id = p.probe_id AND cd.vec_id = c.vec_id)"
    )
    ctes.append(
        "tot AS (SELECT probe_id, vec_id, CAST(SUM(pd2_u) AS BIGINT) AS d2u"
        " FROM pj GROUP BY probe_id, vec_id)"
    )
    ctes.append(
        "sl AS (SELECT probe_id, vec_id FROM ("
        "SELECT probe_id, vec_id, ROW_NUMBER() OVER ("
        "PARTITION BY probe_id ORDER BY d2u, vec_id) AS rk FROM tot)"
        f" WHERE rk <= {shortlist})"
    )
    ed2 = (
        "(list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, b.e)"
        " + list_dot_product(b.e, b.e))"
    )
    ctes.append(
        "rr AS (SELECT s.probe_id, s.vec_id,"
        f" CAST(ROUND({ed2} * 1000000) AS BIGINT) AS d2e_u"
        " FROM sl s JOIN fq a ON a.vec_id = s.probe_id"
        " JOIN fq b ON b.vec_id = s.vec_id)"
    )
    ctes.append(
        "rrk AS (SELECT probe_id, vec_id, d2e_u, ROW_NUMBER() OVER ("
        "PARTITION BY probe_id ORDER BY d2e_u, vec_id) AS rnk FROM rr)"
    )
    return ctes


def _ann_ivfpq_oracle() -> str:
    ctes = _ann_ivfpq_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT probe_id, vec_id, CAST(rnk AS INT) AS rnk,"
        f" CAST(d2e_u / 1000000.0 AS DOUBLE) AS d2"
        f" FROM rrk WHERE rnk <= {_IVFPQ_TOPK}"
    )


def _ann_ivfpq_recall_oracle() -> str:
    """q_ann_ivfpq_recall: the IVFPQ chain plus an exact-L2 ground-truth
    leg over the full corpus (NOT bucket-restricted -- the recall
    denominator is the true top-k); integer micro-unit ranks on both
    legs, the q_ann_pq_recall convention."""
    ctes = _ann_ivfpq_ctes()
    ed2 = (
        "(list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, b.e)"
        " + list_dot_product(b.e, b.e))"
    )
    ctes.append(
        f"exact AS (SELECT a.vec_id AS probe_id, b.vec_id,"
        f" ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY"
        f" CAST(ROUND({ed2} * 1000000) AS BIGINT), b.vec_id) AS rnk"
        f" FROM fq a JOIN fq b ON b.vec_id <> a.vec_id"
        f" WHERE a.vec_id < {_IVFPQ_PROBES})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT e.probe_id, CAST(COUNT(p.vec_id) AS INT) AS n_hits"
        f" FROM (SELECT probe_id, vec_id FROM exact"
        f" WHERE rnk <= {_IVFPQ_TOPK}) e"
        f" LEFT JOIN (SELECT probe_id, vec_id FROM rrk"
        f" WHERE rnk <= {_IVFPQ_TOPK}) p"
        f" ON p.probe_id = e.probe_id AND p.vec_id = e.vec_id"
        f" GROUP BY e.probe_id"
    )


@query("q_ann_ivfpq", oracle=_ann_ivfpq_oracle(), trains=_PQ_TRAIN_MEMO)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ vector search (Jegou et al. 2011 section V: "IVFADC") --
    the production composition q_ann_pq's docstring promises: the sign-LSH
    inverted file (q_ann_ivf's 4 seeded hyperplanes, 5-bucket multi-probe)
    prunes WHICH rows are scanned, the product-quantizer codes (16
    subspaces x 64 centroids) shrink WHAT each candidate costs to rank,
    and an exact re-rank of the 40-row ADC shortlist restores full
    precision on the survivors. Top-3 per probe (vec_id < 25) by exact
    L2 over the re-ranked shortlist.

    Recall posture (the r11 sweep, PLANS.md): this config's recall@3
    equals the IVF coverage ceiling at every fixture SF -- the PQ stage
    loses nothing the bucket pruning hadn't already given up -- and ties
    the exact-cosine-ranked q_ann_ivf baseline (0.44 at sf0.01).

    Scale: the serving scan reads (vec_id, bucket, 16 x 1 B codes) --
    never the 64 x 8 B embedding column -- joined to three broadcasts
    (25-row probe bucket sets, 1024-row codebook, 400-row probe
    sub-vectors); the ADC sum is one map-side-combinable integer agg
    keyed (probe, vec); only the 25 x 40-row shortlist ever touches full
    vectors again (one vec_id equi-join). At 1000 executors each stage
    is embarrassingly bucket/key-parallel with no double-carrying
    shuffle -- the IVFADC memory story at 100 TB: 128x less candidate
    I/O than brute force AND 5/16 of the rows scanned.

    Determinism: one 1e-6-quantized vector representation feeds the
    bucket signs, the codebook training, and the re-rank; every rank
    gate orders integer micro-units with vec_id tiebreak (the q_ann_pq
    convention), so no rounded-double knife edge exists anywhere."""
    from ..operators.kmeans import quantize_vec

    emb = pin_corpus(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            quantize_vec(
                F.col("embedding").cast("array<double>")
            ).alias("e"),
        )
    )
    vb = hyperplane_bucket(emb)
    # (probe_id, [own bucket + 4 hamming-1 neighbors]) -- 25 rows.
    probe_buckets = vb.filter(F.col("vec_id") < _IVFPQ_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(4)],
        ).alias("pbs"),
    )
    # IVF gate: (probe_id, vec_id) candidate pairs -- the code relation
    # streams against the 25-row broadcast, ~5/16 of rows survive per
    # probe; no full-vector column rides this join.
    cand = vb.select("vec_id", "bucket").join(
        broadcast(probe_buckets),
        F.array_contains(F.col("pbs"), F.col("bucket"))
        & (F.col("vec_id") != F.col("probe_id")),
    ).select("probe_id", "vec_id")
    # r14: one posexplode pass instead of a 16-branch unionAll (see
    # operators/ann_index.py _subspace_split) -- same rows, one read.
    from ..operators.ann_index import _subspace_split

    vm = _subspace_split(emb, _IVFPQ_M, _IVFPQ_SUB)
    codes_full, cents = _trained_codebook(
        spark, sf_dir, vm, _IVFPQ_M, _IVFPQ_SUB, _IVFPQ_K, _IVFPQ_ITERS
    )
    codes = codes_full.select("vec_id", "m", F.col("cluster").alias("code"))
    probes = vm.filter(F.col("vec_id") < _IVFPQ_PROBES).select(
        F.col("vec_id").alias("pp"),
        F.col("m").alias("pm"),
        F.col("e").alias("q"),
    )
    pd2 = (
        dot_expr(F.col("q"), F.col("q"))
        - 2 * dot_expr(F.col("q"), F.col("ce"))
        + dot_expr(F.col("ce"), F.col("ce"))
    )
    cents_a = cents.select(
        F.col("m").alias("cm"), F.col("cluster"), F.col("ce")
    )
    pj = (
        codes.join(cand, "vec_id")
        .join(broadcast(cents_a),
              (F.col("m") == F.col("cm")) & (F.col("code") == F.col("cluster")))
        .join(broadcast(probes),
              (F.col("m") == F.col("pm"))
              & (F.col("probe_id") == F.col("pp")))
        .select(
            "probe_id",
            "vec_id",
            duck_round(pd2 * F.lit(1_000_000.0)).cast("long").alias("pd2_u"),
        )
    )
    tot = pj.groupBy("probe_id", "vec_id").agg(
        F.sum("pd2_u").cast("long").alias("d2u")
    )
    w = Window.partitionBy("probe_id").orderBy("d2u", "vec_id")
    sl = (
        tot.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _IVFPQ_SHORTLIST)
        .select("probe_id", "vec_id")
    )
    # exact re-rank: 25 x 40 shortlist rows broadcast back onto the
    # full-vector relation -- the ONLY stage that touches embeddings
    # after training.
    pf = emb.filter(F.col("vec_id") < _IVFPQ_PROBES).select(
        F.col("vec_id").alias("rp"), F.col("e").alias("pe")
    )
    ed2 = (
        dot_expr(F.col("pe"), F.col("pe"))
        - 2 * dot_expr(F.col("pe"), F.col("e"))
        + dot_expr(F.col("e"), F.col("e"))
    )
    rr = (
        emb.join(broadcast(sl), "vec_id")
        .join(broadcast(pf), F.col("probe_id") == F.col("rp"))
        .select(
            "probe_id",
            "vec_id",
            duck_round(ed2 * F.lit(1_000_000.0)).cast("long").alias("d2e_u"),
        )
    )
    wr = Window.partitionBy("probe_id").orderBy("d2e_u", "vec_id")
    return (
        rr.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _IVFPQ_TOPK)
        .select(
            "probe_id",
            "vec_id",
            F.col("rnk").cast("int").alias("rnk"),
            (F.col("d2e_u") / F.lit(1_000_000.0)).cast("double").alias("d2"),
        )
    )


@query(
    "q_ann_ivfpq_recall",
    oracle=_ann_ivfpq_recall_oracle(),
    trains=_PQ_TRAIN_MEMO,
)
def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVFADC search (q_ann_ivfpq) against exact-L2
    ground truth over the FULL corpus -- the serving-config gate the
    VERDICT r10 bar names: a production IVFPQ deployment is only as
    good as (coverage of the probe set) x (shortlist quality), and this
    harness measures the product. Output: (probe_id, n_hits), n_hits =
    |exact top-3 ∩ IVFPQ top-3| per probe.

    Measured at this config (M=16, K=64, shortlist=40): recall@3 ties
    the IVF multi-probe coverage ceiling at all 3 fixture SFs (0.48 /
    0.44 / 0.5733) = the exact-ranked IVF baseline -- i.e. quantization
    costs zero recall after the re-rank, so the 128x candidate-I/O cut
    is free at equal recall. tests/test_ann_ivfpq.py pins the >= bar.

    Scale: the exact leg is probe-bounded (25 broadcast rows x corpus,
    the q_cosine_topk shape); the IVFPQ leg shares q_ann_ivfpq's plan."""
    from ..operators.kmeans import quantize_vec

    ivfpq_top = q_ann_ivfpq(spark, sf_dir).select(
        "probe_id", F.col("vec_id").alias("pq_vec")
    )
    fv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        quantize_vec(F.col("embedding").cast("array<double>")).alias("e"),
    )
    probes = fv.filter(F.col("vec_id") < _IVFPQ_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    d2 = (
        dot_expr(F.col("pe"), F.col("pe"))
        - 2 * dot_expr(F.col("pe"), F.col("e"))
        + dot_expr(F.col("e"), F.col("e"))
    )
    scored = (
        fv.crossJoin(broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            duck_round(d2 * F.lit(1_000_000.0)).cast("long").alias("d2u"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("d2u", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _IVFPQ_TOPK)
        .select("probe_id", "vec_id")
    )
    return (
        exact.join(
            ivfpq_top,
            (exact["probe_id"] == ivfpq_top["probe_id"])
            & (exact["vec_id"] == ivfpq_top["pq_vec"]),
            "left",
        )
        .groupBy(exact["probe_id"].alias("probe_id"))
        .agg(F.count(ivfpq_top["pq_vec"]).cast("int").alias("n_hits"))
    )


# --------------------------------------------------------------------------
# retrieval fusion / importance-based data selection (round 14)
# --------------------------------------------------------------------------


@query(
    "q_rrf_fusion",
    oracle="""
    WITH qt AS (
        SELECT list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id = 7
    ),
    qtok AS (SELECT unnest(toks) AS tok FROM qt),
    t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id <> 7
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM t JOIN qtok USING (tok) GROUP BY t.doc_id
    ),
    lexs AS (
        SELECT i.doc_id,
               CAST(ROUND(CAST(i.n_common AS DOUBLE)
                    / (s.n + len(qt.toks) - i.n_common), 4) AS DOUBLE) AS jac
        FROM inter i JOIN sizes s USING (doc_id) CROSS JOIN qt
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY jac DESC, doc_id) AS INT)
                   AS lex_rk
        FROM lexs ORDER BY jac DESC, doc_id LIMIT 50
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pv AS (SELECT e AS pe, sqrt(list_dot_product(e, e)) AS pnrm
           FROM v WHERE vec_id = 7),
    ds AS (
        SELECT c.vec_id AS doc_id,
               CAST(ROUND(list_dot_product(pv.pe, c.e)
                    / (pv.pnrm * sqrt(list_dot_product(c.e, c.e))), 4)
                    AS DOUBLE) AS sim
        FROM v c CROSS JOIN pv WHERE c.vec_id <> 7
    ),
    vec AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT)
                   AS vec_rk
        FROM ds ORDER BY sim DESC, doc_id LIMIT 50
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v2.doc_id) AS doc_id, l.lex_rk, v2.vec_rk,
               COALESCE(CAST(ROUND(1000000000.0 / (60 + l.lex_rk))
                             AS BIGINT), 0)
               + COALESCE(CAST(ROUND(1000000000.0 / (60 + v2.vec_rk))
                               AS BIGINT), 0) AS rrf_u9
        FROM lex l FULL OUTER JOIN vec v2 ON l.doc_id = v2.doc_id
    )
    SELECT doc_id, lex_rk, vec_rk, rrf_u9
    FROM fused ORDER BY rrf_u9 DESC, doc_id LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this retrieval with Reciprocal Rank Fusion
    (round 14): the modern two-tower search stack -- a LEXICAL ranked
    list (distinct-token Jaccard against the query document's token
    set, the sparse/BM25 lane) and a DENSE ranked list (embedding
    cosine against the query document's vector) fused by RRF
    (Cormack, Clarke & Buettcher, SIGIR 2009: score(d) = sum over
    lists of 1/(k + rank_d), k=60 -- rank-only fusion, immune to
    score-scale mismatch between lanes, which is exactly why hybrid
    search engines ship it as the default combiner). Query document 7,
    top-50 per lane, top-20 fused. A curation team runs this shape for
    eval-anchored corpus audits: "what does the corpus contain that is
    most like this eval item, lexically OR semantically?"

    Cross-engine determinism: each lane ranks on its ROUNDED-4dp score
    with doc_id tiebreak (the q_cosine_topk convention; Jaccard's
    single IEEE division of exact ints is bit-identical cross-engine),
    so both top-50 cuts and both rank columns are exact; the RRF
    contribution 1/(60+rank) is quantized to integer nano-units
    (duck_round mirror) and summed as int64, so the fused order and
    the top-20 cut are exact too. The dense lane's dot is the
    SEQUENTIAL fold (cosine_scores bulk=False) because the rounded sim
    decides lane membership (the r8 knife-edge rule).

    Scale: no global sort anywhere -- each lane's top-50 is
    TakeOrdered (per-partition heaps + a 50-row driver merge), and
    the rank row_number runs AFTER the limit, over a 50-row BOUNDED
    relation (the TPC-H Q15 bounded-window class, not the retired
    fact-sized kind). The lexical lane never scans non-matching
    tokens' rows into the shuffle: the token stream inner-joins the
    broadcast query-term set first (inverted-index probe shape), so
    the scored relation is |docs sharing a term|, not |tokens|. The
    dense lane broadcasts the 1-row probe (cosine_scores). The fusion
    join is 50x50 (both sides top-K-capped); it carries NO broadcast
    hint because Spark cannot broadcast-hash a FULL OUTER join -- the
    hint would be silently ignored -- and a 50x50 sort-merge is
    noise."""
    d = load_table(spark, sf_dir, "documents")
    qt = d.filter(F.col("doc_id") == 7).select(
        F.array_distinct(TOKS()).alias("qtoks")
    )
    qn = qt.select(F.size("qtoks").alias("n_q"))
    qtok = qt.select(F.explode("qtoks").alias("tok"))
    t = d.filter(F.col("doc_id") != 7).select(
        "doc_id", F.explode(F.array_distinct(TOKS())).alias("tok")
    ).transform(pin_corpus)
    sizes = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        t.join(broadcast(qtok), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    jac = duck_round(
        F.col("n_common").cast("double")
        / (F.col("n") + F.col("n_q") - F.col("n_common")),
        4,
    ).cast("double")
    lex50 = (
        inter.join(sizes, "doc_id")
        .crossJoin(broadcast(qn))
        .select("doc_id", jac.alias("jac"))
        .orderBy(F.desc("jac"), F.asc("doc_id"))
        .limit(50)
    )
    from pyspark.sql import Window

    lex = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("jac"), F.asc("doc_id")))
        .cast("int")
        .alias("lex_rk"),
    )
    v = with_norm(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    pv = v.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    vec50 = (
        cosine_scores(v, pv, bulk=False)
        .select(F.col("cand_id").alias("doc_id"), "sim")
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(50)
    )
    vec = vec50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .cast("int")
        .alias("vec_rk"),
    )
    rrf = lambda rk: F.coalesce(  # noqa: E731 -- tiny local combinator
        duck_round(F.lit(1000000000.0) / (F.lit(60) + rk)).cast("long"),
        F.lit(0).cast("long"),
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rk",
        "vec_rk",
        (rrf(F.col("lex_rk")) + rrf(F.col("vec_rk"))).alias("rrf_u9"),
    )
    return fused.orderBy(F.desc("rrf_u9"), F.asc("doc_id")).limit(20)


#: hashed-feature bucket count for DSIR importance weights -- fixed by
#: config (the paper uses 10k buckets at web scale; 256 keeps every
#: bucket occupied at fixture scale), NOT data-dependent.
_DSIR_BUCKETS = 256


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
                FROM documents),
    big AS (
        SELECT doc_id, source,
               CAST('0x' || substring(md5(t[i] || ' ' || t[i + 1]), 1, 15)
                    AS BIGINT) % {_DSIR_BUCKETS} AS bucket
        FROM tk CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(t))) AS i
        ) ix(i)
    ),
    tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM big
           WHERE source = 'src0' GROUP BY bucket),
    rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM big
           WHERE source <> 'src0' GROUP BY bucket),
    nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM tc),
    nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM rc),
    rt AS (
        SELECT rc.bucket,
               CAST(ROUND(ln(((COALESCE(tc.ct, 0) + 1.0)
                              / (nt.nt + {_DSIR_BUCKETS}.0))
                             / ((rc.cr + 1.0)
                                / (nr.nr + {_DSIR_BUCKETS}.0)))
                          * 1000000) AS BIGINT) AS lr6
        FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nt CROSS JOIN nr
    )
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(rt.lr6) AS BIGINT) AS dsir_ln6
    FROM big b JOIN rt USING (bucket)
    WHERE b.source <> 'src0'
    GROUP BY b.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (round 14): Data Selection via Importance
    Resampling (Xie et al. 2023, arXiv:2302.03169) -- score every RAW
    document by how target-like its hashed n-gram features are. Target
    distribution = the 'src0' slice (the curated exemplar corpus);
    features = word bigrams hashed into 256 fixed buckets (the paper's
    hashed-feature trick: the model is a pair of 256-bin multinomials,
    never a vocabulary-sized object); per-document log importance
    weight = sum over its bigram occurrences of
    ln(p_target(bucket) / p_raw(bucket)) with add-one smoothing over
    the bucket space. Downstream a pipeline resamples
    proportional-to-weight -- that stage already exists as
    q_weighted_sample / q_logprob_strata's content-hash sampler; this
    row is the WEIGHT model they'd consume.

    Cross-engine determinism: the bucket hash is the portable md5-60
    (operators/dedup.portable_hash60 == the oracle's substring-md5
    cast, both mod 256 on a positive int); each bucket's log-ratio is
    ONE straight-line IEEE expression written identically in both
    engines, quantized to integer micro-nats; per-doc weights are
    commutative int64 sums of those -- partition-order immune.

    Scale: ONE corpus scan (the pinned bigram-bucket stream feeds the
    target counts, the raw counts, and the scoring join); the bucket
    model is 256 rows by construction -- counts aggregate with map-side
    combine onto 256 keys, the ratio table broadcasts (bucket-table
    tag: config-sized like the bloom word-table), and scoring is a
    broadcast hash join + per-doc aggregation. The only corpus-sized
    shuffle is the final doc_id groupBy. Skew note: 256 hot keys on
    the count aggregations is the q_agg_salted territory at 1000
    executors -- partial aggregation already collapses each partition
    to <=256 rows before the exchange, so the reduce side moves
    P x 256 rows, not the corpus."""
    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", "source", F.split("text", " ").alias("t"))
    bg = (
        tk.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "source",
            (
                portable_hash60(
                    F.concat(F.col("p.w1"), F.lit(" "), F.col("p.w2"))
                )
                % _DSIR_BUCKETS
            ).alias("bucket"),
        )
        .transform(pin_corpus)
    )
    tc = (
        bg.filter(F.col("source") == "src0")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    rc = (
        bg.filter(F.col("source") != "src0")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cr"))
    )
    nt = tc.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
    nr = rc.agg(F.sum("cr").cast("long").alias("nr"))
    lr6 = (
        duck_round(
            F.log(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(float(_DSIR_BUCKETS)))
                )
                / (
                    (F.col("cr") + F.lit(1.0))
                    / (F.col("nr") + F.lit(float(_DSIR_BUCKETS)))
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("lr6")
    )
    rt = (
        rc.join(tc, "bucket", "left")
        .crossJoin(broadcast(nt))
        .crossJoin(broadcast(nr))
        .select("bucket", lr6)
    )
    return (
        bg.filter(F.col("source") != "src0")
        .join(broadcast(rt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lr6").cast("long").alias("dsir_ln6"),
        )
    )


@query(
    "q_perplexity_buckets",
    oracle="WITH "
    + _BIGRAM_DOC_CTE
    + """
    , ds AS (
        SELECT b.doc_id, d.source, b.avg_bigram_lp
        FROM bdoc b JOIN documents d USING (doc_id)
    ),
    nt3 AS (
        SELECT doc_id, source, avg_bigram_lp,
               CAST(NTILE(3) OVER (PARTITION BY source
                    ORDER BY avg_bigram_lp DESC, doc_id) AS INT) AS b3
        FROM ds
    )
    SELECT doc_id, source, avg_bigram_lp,
           CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
    FROM nt3
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (round 14): split each SOURCE's
    documents into head / middle / tail terciles of LM score (Wenzek et
    al. 2020, CCNet: per-language-shard perplexity terciles are the
    standard web-corpus quality partition -- 'head' trains, 'tail'
    drops, 'middle' is judgement). Score = the shared bigram-LM mean
    conditional logprob (:func:`bigram_doc_scores` -- the IDENTICAL
    relation q_bigram_lm emits, shared so the two rows cannot drift);
    higher logprob = lower perplexity = more natural text = 'head'.
    Versus q_logprob_strata (global unigram quartiles + sampling),
    this is the per-GROUP tercile shape on the stronger model, with
    labels a mixture policy consumes (q_corpus_mixture's lanes).

    Cross-engine determinism: within a source the order is (rounded
    4dp score DESC, doc_id) -- a unique total order on bit-identical
    values -- and NTILE(3)'s exact boundary sizes (floor buckets,
    remainder to the earliest) are reproduced as literal comparisons
    on the within-source rank, so the bucket assignment is exact.

    Scale: a per-source NTILE window LOOKS partitioned, but each
    partition is corpus/|sources|-sized -- the same single-reducer
    sort class VERDICT r13 #1 retired, just divided by a small enum.
    The shipped plan therefore ranks through operators/rank.py
    global_rank ONCE over (source, score DESC, doc_id) -- range
    shuffle, P-way parallel -- and derives the within-source rank by
    subtracting each source's first global rank (an enum-sized
    MIN-aggregate, broadcast); tercile boundaries are per-source
    column expressions of the enum-sized counts. No WindowExec over
    an unbounded relation anywhere in the executed plan."""
    from ..operators.rank import global_rank

    d = load_table(spark, sf_dir, "documents")
    ds = bigram_doc_scores(spark, sf_dir).join(
        d.select("doc_id", "source"), "doc_id"
    )
    ranked, _n = global_rank(
        ds,
        [
            F.col("source").asc(),
            F.col("avg_bigram_lp").desc(),
            F.col("doc_id").asc(),
        ],
        rank_col="_gr",
    )
    stats = ranked.groupBy("source").agg(
        F.min("_gr").alias("_r0"), F.count(F.lit(1)).alias("_ns")
    )
    rs = F.col("_gr") - F.col("_r0") + 1  # 1-based rank within source
    q3 = ((F.col("_ns") - F.col("_ns") % 3) / 3).cast("long")
    m3 = F.col("_ns") % 3
    b1 = q3 + F.when(m3 >= 1, 1).otherwise(0)
    b2 = b1 + q3 + F.when(m3 >= 2, 1).otherwise(0)
    return (
        ranked.join(broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            "avg_bigram_lp",
            F.when(rs <= b1, "head")
            .when(rs <= b2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
