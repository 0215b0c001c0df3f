"""Validation of the approximate LLM-pipeline operators against their exact
ground truths (SURVEY.md section 2.2: q_dedup_minhash is "validated vs
q_jaccard_sim ground truth"; q_ann_ivf recall vs q_cosine_topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
    minhash_candidates,
)
from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.sources import load_table

from .conftest import SF_ORACLE


def test_minhash_recall_vs_exact_jaccard(spark):
    """Every truly-similar pair (exact Jaccard >= 0.7, doc_id<50) must be
    recalled by the banded MinHash candidates (16 perms, 8 bands of 2 =>
    ~0.35 LSH threshold; per-pair miss probability (1-j^2)^8 < 0.5% at
    j=0.7; with fixed seeds the outcome is deterministic, this pins it)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q_jaccard_sim"](spark, SF_ORACLE)
        .filter(F.col("jaccard") >= 0.7)
        .collect()
    }
    d = load_table(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 50)
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(
            d, "doc_id", F.array_distinct(F.split("text", " ")), k=16, bands=8
        ).collect()
    }
    missed = exact - cand
    assert not missed, f"minhash missed truly-similar pairs: {sorted(missed)[:5]}"


def test_verified_edges_match_exact_thresholded_pairs(spark):
    """q_dedup_clusters' default edge generator (banded LSH candidates +
    exact verify on candidates) must produce EXACTLY the j>=0.9 pair set
    the unbanded token-join ground truth produces on the probe block --
    precision is exact by construction; this pins that recall loss is
    zero on the fixtures (p_miss ~ 2e-6 per pair, fixed seeds)."""
    from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
        minhash_verified_edges,
    )

    d = load_table(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 500)
    toks = F.array_distinct(F.split("text", " "))
    banded = {
        (r["src"], r["dst"])
        for r in minhash_verified_edges(d, "doc_id", toks, threshold=0.9).collect()
    }
    g = d.select("doc_id", F.explode(toks).alias("tok"))
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = g.alias("a"), g.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    exact = {
        (r["src"], r["dst"])
        for r in inter.join(
            sizes.alias("sa"), F.col("sa.doc_id") == F.col("src")
        )
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("dst"))
        .filter(jac >= 0.9)
        .select("src", "dst")
        .collect()
    }
    assert banded == exact, (
        f"missed: {sorted(exact - banded)[:5]} extra: {sorted(banded - exact)[:5]}"
    )


def test_hot_token_cap_drops_only_hot_posting_lists(spark):
    """jaccard_pairs(max_token_df=N): a synthetic stop-word-grade token
    shared by EVERY doc must stop contributing join rows and set mass,
    while pairs related only through normal tokens are unchanged."""
    from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
        jaccard_pairs,
    )

    rows = [
        (1, ["the", "alpha", "beta"]),
        (2, ["the", "alpha", "beta"]),
        (3, ["the", "gamma", "delta"]),
        (4, ["the", "epsilon", "zeta"]),
    ]
    tok = (
        spark.createDataFrame(rows, "doc_id long, toks array<string>")
        .select("doc_id", F.explode("toks").alias("tok"))
    )
    uncapped = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(tok).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(tok, max_token_df=3).collect()
    }
    # uncapped: every pair shares "the"; capped: only the real near-dup
    assert set(uncapped) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert capped == {(1, 2): 1.0}  # {alpha,beta} vs {alpha,beta}
    assert uncapped[(1, 2)] == round(3 / 3, 4)  # all three tokens shared


def test_minhash_estimate_tracks_exact(spark):
    """For recalled pairs, |est - exact| <= 0.35 (16 perms is coarse; the
    bound just catches sign/major errors deterministically)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["q_jaccard_sim"](spark, SF_ORACLE).collect()
    }
    d = load_table(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 50)
    cand = minhash_candidates(
        d, "doc_id", F.array_distinct(F.split("text", " ")), k=16, bands=4
    ).collect()
    for r in cand:
        true_j = exact.get((r["doc_a"], r["doc_b"]), 0.0)
        assert abs(r["est_jaccard"] - true_j) <= 0.35, (
            f"pair {(r['doc_a'], r['doc_b'])}: est {r['est_jaccard']} vs {true_j}"
        )


def test_ann_ivf_results_are_true_cosines(spark):
    """Bucketed ANN returns a subset of the exact scored pairs: every
    (probe, cand, sim) it emits must carry the same sim as brute force."""
    exact_all = {
        (r["probe_id"], r["cand_id"]): r["sim"]
        for r in QUERIES["q_cosine_topk"](spark, SF_ORACLE).collect()
    }
    approx = QUERIES["q_ann_ivf"](spark, SF_ORACLE).collect()
    hits = 0
    for r in approx:
        key = (r["probe_id"], r["cand_id"])
        if key in exact_all:
            hits += 1
            assert abs(exact_all[key] - r["sim"]) < 1e-9
    # same-bucket probes must recover a reasonable share of true top-5
    recall = hits / len(exact_all)
    assert recall >= 0.2, f"IVF recall collapsed: {recall:.2f}"


def test_simhash_pairs_share_tokens(spark):
    """Hamming<=3 SimHash pairs must actually share most tokens (sanity:
    the signature is not noise)."""
    pairs = QUERIES["q_simhash"](spark, SF_ORACLE).collect()
    if not pairs:
        return
    docs = {
        r["doc_id"]: set(r["text"].split())
        for r in load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("doc_id") < 100)
        .collect()
    }
    for r in pairs:
        a, b = docs[r["doc_a"]], docs[r["doc_b"]]
        j = len(a & b) / len(a | b)
        assert j >= 0.5, f"simhash pair {(r['doc_a'], r['doc_b'])} jaccard {j:.2f}"


def test_multimodal_decode_deterministic(spark):
    """The stubbed decoder is a pure function of the payload bytes."""
    a = {tuple(r) for r in QUERIES["q_multimodal_decode"](spark, SF_ORACLE).collect()}
    b = {tuple(r) for r in QUERIES["q_multimodal_decode"](spark, SF_ORACLE).collect()}
    assert a == b and len(a) > 0


def test_kmeans_deterministic_and_improving(spark):
    """k-means: every vector assigned, deterministic across runs, and
    total inertia does not increase between iterations 1 and 3."""
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.kmeans import (
        assign_clusters,
        kmeans,
        update_centroids,
    )

    v = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    a1, c1 = kmeans(v, k=8, iterations=1)
    a3, c3 = kmeans(v, k=8, iterations=3)
    assert a3.count() == v.count()
    assert a3.select("cluster").distinct().count() <= 8

    def inertia(assigned, centroids):
        from weighted_raster_overlay_service_toolbox_spark.operators.similarity import (
            dot_expr,
        )
        from pyspark.sql.functions import broadcast

        # |e-ce|^2 by the expanded identity assign_clusters ranks on
        e, ce = F.col("e"), F.col("ce")
        sq_dist = dot_expr(e, e) - 2 * dot_expr(e, ce) + dot_expr(ce, ce)
        joined = assigned.join(broadcast(centroids), "cluster")
        return joined.agg(F.sum(sq_dist).alias("j")).first()["j"]

    assert inertia(a3, c3) <= inertia(a1, c1) + 1e-9

    again = kmeans(v, k=8, iterations=3)[0]
    assert sorted(map(tuple, a3.select("vec_id", "cluster").collect())) == sorted(
        map(tuple, again.select("vec_id", "cluster").collect())
    )


def test_span_dedup_handles_sub_window_docs(spark, tmp_path):
    """Regression (r4 advice): docs with <= 2 tokens must yield no spans
    instead of crashing -- Spark's sequence(1, 0) is descending [1, 0]
    (unlike DuckDB's empty range) and slice(tk, 0, 3) raises
    INVALID_PARAMETER_VALUE.START. Both span queries share the guard."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "one",                      # 1 token: sub-window
                "two tokens",               # 2 tokens: sub-window
                "alpha beta gamma delta",   # shares the span below
                "alpha beta gamma delta",   # exact dup -> shared spans
                "x y z",                    # exactly one window, unshared
            ],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [3, 10, 22, 22, 5],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    shared = QUERIES["q_span_dedup"](spark, sf_dir).collect()
    got = {(r["span"], r["n_docs"]) for r in shared}
    assert got == {
        ("alpha beta gamma", 2),
        ("beta gamma delta", 2),
    }, got

    hist = QUERIES["q_span_dedup_hashed"](spark, sf_dir).collect()
    assert {(r["n_docs"], r["n_spans"]) for r in hist} == {(2, 2)}


def test_portable_hash60_matches_hashlib_and_duckdb(spark, duck):
    """portable_hash60 (Spark conv/substring/md5) must equal BOTH the
    pure-Python md5 reference AND DuckDB's hex-cast form for arbitrary
    token text -- this hash is the keystone that lets simhash/minhash
    carry exact cross-engine oracles."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
        portable_hash60,
    )

    @given(
        toks=st.lists(
            st.text(
                alphabet=st.characters(codec="utf-8",
                                       blacklist_categories=("Cs",)),
                min_size=0, max_size=24,
            ),
            min_size=1, max_size=8,
        )
    )
    @settings(max_examples=10, deadline=None)
    def check(toks):
        df = spark.createDataFrame([(t,) for t in toks], "tok string")
        got = {
            r["tok"]: r["h"]
            for r in df.select(
                "tok", portable_hash60(F.col("tok")).alias("h")
            ).collect()
        }
        for t in set(toks):
            want = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            assert got[t] == want, (t, got[t], want)
            duck_val = duck.execute(
                "SELECT CAST('0x' || substring(md5(?), 1, 15) AS BIGINT)", [t]
            ).fetchone()[0]
            assert duck_val == want, (t, duck_val, want)

    check()


def test_semantic_dedup_invariants(spark):
    """semantic_dedup (SemDeDup-style): (a) survivors + dropped partition
    the input; (b) NO surviving pair within a cluster has rounded cosine
    >= threshold (the operator's whole point); (c) every dropped vector
    has a LOWER-id surviving-or-dropped witness in its cluster at or
    above the threshold (greedy keep-lowest-id rule)."""
    from weighted_raster_overlay_service_toolbox_spark.operators.kmeans import (
        kmeans,
    )
    from weighted_raster_overlay_service_toolbox_spark.operators.similarity import (
        semantic_dedup,
    )

    v = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    tau = 0.35
    survivors = {
        r["vec_id"]: r["cluster"]
        for r in semantic_dedup(v, k=8, iterations=3, threshold=tau).collect()
    }
    assigned, _ = kmeans(v, k=8, iterations=3)
    rows = assigned.collect()
    all_ids = {r["vec_id"] for r in rows}
    assert set(survivors) <= all_ids and survivors
    dropped = all_ids - set(survivors)

    import numpy as np

    vecs = {r["vec_id"]: np.array(r["e"]) for r in rows}
    clus = {r["vec_id"]: r["cluster"] for r in rows}

    def cos(i, j):
        a, b = vecs[i], vecs[j]
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 4)

    by_cluster: dict[int, list[int]] = {}
    for i in all_ids:
        by_cluster.setdefault(clus[i], []).append(i)
    for members in by_cluster.values():
        members.sort()
        kept = [i for i in members if i in survivors]
        # (b) no surviving near-pair within the cluster
        for x in range(len(kept)):
            for y in range(x + 1, len(kept)):
                assert cos(kept[x], kept[y]) < tau, (kept[x], kept[y])
        # (c) every dropped member has a lower-id witness in-cluster
        for i in members:
            if i in dropped:
                assert any(
                    j < i and cos(j, i) >= tau for j in members
                ), i


def test_semantic_dedup_lane_cap_arithmetic():
    """The max_block striping bound is EXACT, not hash-expected: id-ordered
    round-robin over n_lanes = ceil(c_n / max_block) lanes never builds a
    lane larger than max_block, for ANY cluster size (hypothesis sweep)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(c_n=st.integers(1, 100_000), max_block=st.integers(1, 5_000))
    def check(c_n: int, max_block: int):
        n_lanes = -(-c_n // max_block)  # ceil
        # round-robin lane sizes: (rn - 1) % n_lanes over rn in 1..c_n
        base, extra = divmod(c_n, n_lanes)
        biggest = base + (1 if extra else 0)
        assert biggest <= max_block, (c_n, max_block, n_lanes, biggest)

    check()


def test_semantic_dedup_max_block_cap(spark):
    """Behavioral contract of the hot-cluster cap: (a) an inactive cap
    (max_block >= n) is IDENTICAL to the uncapped registry configuration;
    (b) an active cap only MISSES cross-lane comparisons, so the capped
    survivor set is a superset of the uncapped one -- the documented
    recall-for-boundedness trade, never extra drops."""
    from weighted_raster_overlay_service_toolbox_spark.operators.similarity import (
        semantic_dedup,
    )

    v = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = v.count()
    # k=1 forces ONE hot cluster holding every vector -- the skew case
    # the cap exists for.
    base = {
        r["vec_id"]
        for r in semantic_dedup(v, k=1, iterations=1, threshold=0.35).collect()
    }
    inactive = {
        r["vec_id"]
        for r in semantic_dedup(
            v, k=1, iterations=1, threshold=0.35, max_block=n
        ).collect()
    }
    assert inactive == base
    capped = {
        r["vec_id"]
        for r in semantic_dedup(
            v, k=1, iterations=1, threshold=0.35, max_block=7
        ).collect()
    }
    assert base <= capped, "an active cap must never drop MORE vectors"
    assert len(capped) <= n


def test_semantic_decontaminate_invariants(spark):
    """semantic_decontaminate: (a) output is exactly the train rows
    minus the contaminated set (eval rows never appear); (b) NO
    surviving train vector has a same-cell eval member at or above the
    threshold; (c) every dropped train vector has such an eval witness
    (the asymmetric role contract distinguishing this from
    semantic_dedup: eval members are never dropped and train-train
    proximity never drops anyone)."""
    from weighted_raster_overlay_service_toolbox_spark.operators.kmeans import (
        kmeans,
    )
    from weighted_raster_overlay_service_toolbox_spark.operators.similarity import (
        semantic_decontaminate,
    )

    v = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ev_ids = {
        r["doc_id"]
        for r in load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id")
        .collect()
    }
    ev = spark.createDataFrame(
        [(i,) for i in sorted(ev_ids)], "vec_id long"
    )
    tau = 0.35
    out = {
        r["vec_id"]: r["cluster"]
        for r in semantic_decontaminate(
            v, ev, k=8, iterations=3, threshold=tau
        ).collect()
    }
    assert out and not (set(out) & ev_ids)  # (a) eval never emitted

    assigned, _ = kmeans(v, k=8, iterations=3)
    rows = assigned.collect()

    import numpy as np

    vecs = {r["vec_id"]: np.array(r["e"]) for r in rows}
    clus = {r["vec_id"]: r["cluster"] for r in rows}
    train = [i for i in vecs if i not in ev_ids]
    assert set(out) <= set(train)

    def cos(i, j):
        a, b = vecs[i], vecs[j]
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 4)

    ev_by_cell: dict[int, list[int]] = {}
    for i in ev_ids:
        if i in clus:
            ev_by_cell.setdefault(clus[i], []).append(i)
    n_dropped = 0
    for i in train:
        witnesses = [
            j for j in ev_by_cell.get(clus[i], []) if cos(i, j) >= tau
        ]
        if i in out:
            assert not witnesses, (i, witnesses)  # (b)
        else:
            n_dropped += 1
            assert witnesses, i  # (c)
    assert n_dropped > 0  # fixture exercises the drop branch


def test_rrf_fusion_is_self_consistent(spark):
    """q_rrf_fusion (late r14): the fused score must be recomputable
    from the emitted lane ranks -- rrf_u9 == round(1e9/(60+lex_rk)) +
    round(1e9/(60+vec_rk)) with a missing lane contributing 0 -- and
    the output must be a valid fused top-20: unique doc_ids, ranks in
    [1, 50], descending (rrf_u9, doc_id)-ordered head of the fused
    relation."""
    rows = QUERIES["q_rrf_fusion"](spark, SF_ORACLE).collect()
    assert 0 < len(rows) <= 20
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows:
        expect = 0
        for rk in (r["lex_rk"], r["vec_rk"]):
            assert rk is None or 1 <= rk <= 50
            if rk is not None:
                expect += round(1_000_000_000.0 / (60 + rk))
        assert r["rrf_u9"] == expect, r
    keys = [(-r["rrf_u9"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # at least one doc must be fused from BOTH lanes at fixture scale
    # (embeddings and documents share the id space by construction)
    assert any(
        r["lex_rk"] is not None and r["vec_rk"] is not None for r in rows
    )


def test_dsir_weights_cover_exactly_the_raw_corpus(spark):
    """q_dsir_weights scores every RAW (non-src0) document with >= 2
    tokens, never a target document, and conserves the feature count:
    sum(n_feats) == total raw bigram occurrences (nothing dropped by
    the bucket join -- every raw bigram's bucket exists in the raw
    counts by construction)."""
    out = QUERIES["q_dsir_weights"](spark, SF_ORACLE)
    d = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    joined = out.join(d, "doc_id").collect()
    assert len(joined) == out.count()  # every scored doc exists
    assert all(r["source"] != "src0" for r in joined)
    raw = d.filter((F.col("source") != "src0") & (F.col("n_tok") >= 2))
    expect_docs = raw.count()
    expect_feats = raw.agg(F.sum(F.col("n_tok") - 1)).collect()[0][0]
    assert len(joined) == expect_docs
    assert sum(r["n_feats"] for r in joined) == expect_feats


def test_perplexity_buckets_are_per_source_terciles(spark):
    """q_perplexity_buckets: within every source the head/middle/tail
    census must be NTILE(3)-shaped (sizes differ by at most one,
    earliest bucket gets the remainder) and bucket boundaries must
    respect the (score DESC, doc_id) order -- the worst head doc ranks
    strictly above the best middle doc in that order."""
    rows = QUERIES["q_perplexity_buckets"](spark, SF_ORACLE).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src) > 1
    for src, rs in by_src.items():
        n = len(rs)
        q3, m3 = divmod(n, 3)
        sizes = {"head": q3 + (m3 >= 1), "middle": q3 + (m3 >= 2),
                 "tail": q3}
        got = {b: sum(1 for r in rs if r["bucket"] == b)
               for b in ("head", "middle", "tail")}
        assert got == sizes, (src, got, sizes)
        order = sorted(rs, key=lambda r: (-r["avg_bigram_lp"], r["doc_id"]))
        labels = [r["bucket"] for r in order]
        # buckets are contiguous in score order
        assert labels == (["head"] * got["head"]
                          + ["middle"] * got["middle"]
                          + ["tail"] * got["tail"]), src
