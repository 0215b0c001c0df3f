"""curate_corpus: one doc dropped per stage, precedence, stats totals,
and the flag cascade against the aggregate-and-join-back reference."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.functions.rounding import (
    duck_round,
)
from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
    minhash_candidates,
)
from weighted_raster_overlay_service_toolbox_spark.operators.graph import (
    connected_components,
)
from weighted_raster_overlay_service_toolbox_spark.operators.text import (
    fingerprint,
    repetition_features,
    tokens_of,
    word_ngrams_from_tokens,
)
from weighted_raster_overlay_service_toolbox_spark.pipeline import curate_corpus
from weighted_raster_overlay_service_toolbox_spark.session import local_frame

_SCHEMA = "doc_id long, text string, source string"


def _docs(spark):
    rows = [
        # survivors
        (1, "alpha beta gamma delta epsilon zeta", "src_a"),
        (2, "one two three four five six seven", "src_a"),
        # too short (< 5 tokens)
        (3, "tiny doc here", "src_a"),
        # repetitive: one trigram dominates
        (4, "spam spam spam spam spam spam spam spam", "src_a"),
        # exact duplicate of doc 1 (same token set, reordered)
        (5, "zeta epsilon delta gamma beta alpha", "src_a"),
        # near-duplicate of doc 2 (one token changed) -- only dropped
        # when near_dup=True
        (6, "one two three four five six eight", "src_b"),
        # filler for the domain cap in src_b
        (7, "red orange yellow green blue indigo violet", "src_b"),
        (8, "cat dog bird fish lizard horse goat", "src_b"),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_stage_reasons_and_precedence(spark):
    kept, dropped, stats = curate_corpus(_docs(spark), min_tokens=5)
    reasons = {r["doc_id"]: r["reason"] for r in dropped.collect()}
    assert reasons[3] == "too_short"
    assert reasons[4] == "repetitive"
    assert reasons[5] == "duplicate"
    assert 6 not in reasons  # near-dup stage off by default
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {1, 2, 6, 7, 8}
    # kept keeps the ORIGINAL columns
    assert set(kept.columns) == {"doc_id", "text", "source"}
    st = {r["reason"]: r["n"] for r in stats.collect()}
    assert st["kept"] == 5 and sum(st.values()) == 8


def test_near_dup_stage_drops_higher_id(spark):
    kept, dropped, _ = curate_corpus(
        _docs(spark), min_tokens=5, near_dup=True, near_dup_est_jaccard=0.5
    )
    reasons = {r["doc_id"]: r["reason"] for r in dropped.collect()}
    assert reasons.get(6) == "near_duplicate"  # doc 2 (lower id) survives
    assert 2 in {r["doc_id"] for r in kept.collect()}


def test_near_dup_exact_verify_uses_true_jaccard(spark):
    """near_dup_exact_jaccard routes through minhash_verified_edges:
    docs 2 and 6 share 6 of 8 distinct tokens (j = 0.75), so a 0.7
    exact threshold drops the higher id while a 0.8 threshold keeps
    both -- est-only mode cannot make that distinction reliably."""
    _, dropped_07, _ = curate_corpus(
        _docs(spark), min_tokens=5, near_dup=True, near_dup_exact_jaccard=0.7
    )
    reasons = {r["doc_id"]: r["reason"] for r in dropped_07.collect()}
    assert reasons.get(6) == "near_duplicate"
    kept_08, dropped_08, _ = curate_corpus(
        _docs(spark), min_tokens=5, near_dup=True, near_dup_exact_jaccard=0.8
    )
    assert "near_duplicate" not in {r["reason"] for r in dropped_08.collect()}
    assert {2, 6} <= {r["doc_id"] for r in kept_08.collect()}


def test_domain_cap_is_deterministic(spark):
    a = curate_corpus(_docs(spark), min_tokens=5, docs_per_source=1)
    b = curate_corpus(_docs(spark), min_tokens=5, docs_per_source=1)
    da = sorted((r["doc_id"], r["reason"]) for r in a[1].collect())
    db = sorted((r["doc_id"], r["reason"]) for r in b[1].collect())
    assert da == db
    capped = [i for i, r in da if r == "domain_capped"]
    # src_a survivors: {1, 2}; src_b survivors: {6, 7, 8} -> 1 kept each
    assert len(capped) == 3
    st = {r["reason"]: r["n"] for r in a[2].collect()}
    assert st["kept"] == 2


def test_fixture_corpus_end_to_end(spark):
    from weighted_raster_overlay_service_toolbox_spark.sources import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    kept, dropped, stats = curate_corpus(docs, docs_per_source=10)
    n_docs = docs.count()
    st = {r["reason"]: r["n"] for r in stats.collect()}
    assert sum(st.values()) == n_docs
    assert kept.count() == st["kept"]
    assert kept.count() + dropped.count() == n_docs


def test_image_near_dup_stage_keeps_one_per_hash_family(spark):
    def ppm(vals):  # 2x2 P6, one uniform gray value per pixel
        return bytearray(
            b"P6\n2 2\n255\n" + b"".join(bytes([v, v, v]) for v in vals)
        )

    rows = [
        # doc 1 and 2: same coarse brightness geometry (2 is 1 shifted
        # +10) -> identical aHash -> one family, min id (1) survives
        (1, "alpha beta gamma delta epsilon zeta", "s", ppm([10, 10, 200, 200])),
        (2, "one two three four five six seven", "s", ppm([20, 20, 210, 210])),
        # doc 3: inverted pattern, Hamming distance 4 > radius 3 -> kept
        (3, "red orange yellow green blue indigo", "s", ppm([200, 200, 10, 10])),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, payload binary"
    )
    kept, dropped, stats = curate_corpus(
        docs, min_tokens=5, image_payload_col="payload"
    )
    reasons = {r["doc_id"]: r["reason"] for r in dropped.collect()}
    assert reasons == {2: "image_near_duplicate"}
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    assert set(kept.columns) == {"doc_id", "text", "source", "payload"}

    # knob plumbing (ADVICE r12): radius >= default bands used to raise
    # from deep inside phash_components; now bands auto-derives (radius 4
    # -> bands 8 for 16-bit hashes) or is caller-set, and impossible
    # combinations fail with a clear, named error at the curate_corpus
    # seam.
    kept4, dropped4, _ = curate_corpus(
        docs, min_tokens=5, image_payload_col="payload",
        image_hamming_radius=4,
    )
    assert {r["doc_id"] for r in kept4.collect()} == {1}  # dist 4 merges
    kept_b, _, _ = curate_corpus(
        docs, min_tokens=5, image_payload_col="payload",
        image_hamming_radius=3, image_bands=8,
    )
    assert {r["doc_id"] for r in kept_b.collect()} == {1, 3}
    import pytest

    with pytest.raises(ValueError, match="band"):
        curate_corpus(docs, min_tokens=5, image_payload_col="payload",
                      image_hash_bits=16, image_hamming_radius=16)


def test_contamination_stage_drops_near_eval_train_docs(spark):
    """Stage 6 (round 13): embedding-space decontamination inside
    curate_corpus. Train doc 2's embedding is a near-copy of eval doc
    100's; docs 1/3 are near-orthogonal to it; doc 4 has NO embedding
    row. Expect: 2 dropped as 'contaminated', 1/3/4 kept (4 passes
    untouched -- only embedding-covered docs can be judged), and the
    eval doc never appears in either output (it isn't in `docs`)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "s"),
            (2, "one two three four five six", "s"),
            (3, "red orange yellow green blue", "s"),
            (4, "lorem ipsum dolor sit amet", "s"),
        ],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.99, 0.1, 0.0]),
            (3, [0.0, 0.0, 0.0, 1.0]),
            (100, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, e array<double>",
    )
    ev = spark.createDataFrame([(100,)], "vec_id long")
    kept, dropped, stats = curate_corpus(
        docs, min_tokens=3,
        embeddings=emb, eval_ids=ev, contamination_k=2,
    )
    reasons = {r["doc_id"]: r["reason"] for r in dropped.collect()}
    assert reasons == {2: "contaminated"}
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}

    # Eval members present in `docs` must NOT ship in the curated
    # corpus (r13 review: the first cut kept them): same fixture with
    # eval doc 100 as a docs row, using a doc_id-named eval relation
    # (the first-column contract).
    docs_with_eval = docs.union(
        spark.createDataFrame(
            [(100, "held out eval prompt answer text", "s")],
            "doc_id long, text string, source string",
        )
    )
    ev_named = spark.createDataFrame([(100,)], "doc_id long")
    kept_e, dropped_e, stats_e = curate_corpus(
        docs_with_eval, min_tokens=3,
        embeddings=emb, eval_ids=ev_named, contamination_k=2,
    )
    reasons_e = {r["doc_id"]: r["reason"] for r in dropped_e.collect()}
    assert reasons_e == {2: "contaminated", 100: "eval_member"}
    assert {r["doc_id"] for r in kept_e.collect()} == {1, 3, 4}
    s_e = {r["reason"]: r["n"] for r in stats_e.collect()}
    assert s_e == {"kept": 3, "contaminated": 1, "eval_member": 1}
    s = {r["reason"]: r["n"] for r in stats.collect()}
    assert s == {"kept": 3, "contaminated": 1}


def test_half_a_decontamination_request_raises(spark):
    """Passing exactly one of embeddings/eval_ids is an error (ADVICE
    r13): a silent skip would hand back an un-decontaminated corpus
    with no signal."""
    import pytest
    from pyspark.sql import functions as F

    docs = _docs(spark)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, e array<double>"
    )
    ev = spark.createDataFrame([(2,)], "doc_id long")
    with pytest.raises(ValueError, match="eval_ids"):
        curate_corpus(docs, embeddings=emb)
    with pytest.raises(ValueError, match="embeddings"):
        curate_corpus(docs, eval_ids=ev)


def _answer(kept, dropped, stats):
    return (
        sorted(r["doc_id"] for r in kept.collect()),
        sorted((r["doc_id"], r["reason"]) for r in dropped.collect()),
        sorted((r["reason"], r["n"]) for r in stats.collect()),
    )


def test_pin_storage_modes_give_the_same_answer(spark, monkeypatch):
    """The verdict pin is a storage choice, not a semantic one: the
    lineage-keeping modes (disk persist, no pin) give exactly the answer
    of the default localCheckpoint."""
    answers = {}
    for mode in ("checkpoint", "disk", "none"):
        monkeypatch.setenv("SPARK_GRAFT_PIN_STORAGE", mode)
        answers[mode] = _answer(
            *curate_corpus(_docs(spark), near_dup=True, docs_per_source=1)
        )
    assert answers["disk"] == answers["checkpoint"]
    assert answers["none"] == answers["checkpoint"]
    # every stage the call enables fires on the fixture
    assert {r for _, r in answers["checkpoint"][1]} == {
        "too_short", "repetitive", "duplicate", "near_duplicate",
        "domain_capped",
    }


def test_outputs_share_one_cascade_run(spark, monkeypatch, job_ids):
    """kept, dropped and stats read one pinned verdict, so materializing
    all three does not re-run the cascade per output (44 jobs on this
    fixture when each output re-ran it; 7 with the pin)."""
    monkeypatch.delenv("SPARK_GRAFT_PIN_STORAGE", raising=False)
    kept, dropped, stats = curate_corpus(
        _docs(spark), near_dup=True, docs_per_source=1
    )
    jobs = job_ids(
        "test-curate-single-evaluation", lambda: _answer(kept, dropped, stats)
    )
    assert 0 < len(jobs) <= 10, jobs


def test_near_dup_pass_runs_a_bounded_job_count(
    spark, tmp_path, monkeypatch, job_ids
):
    """A near-dup curation call plus materializing all three outputs runs
    at most 13 jobs on the planted fixture read from parquet, as the
    benchmark reads its corpus: 44 when connected components ran its
    rounds on the candidate graph, 27 with driver union-find, 13 once
    the quality, fingerprint and domain-cap verdicts became row and
    window flags instead of joins."""
    monkeypatch.delenv("SPARK_GRAFT_PIN_STORAGE", raising=False)
    path = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(path)
    docs = spark.read.parquet(path)

    def curate():
        _answer(*curate_corpus(docs, near_dup=True, docs_per_source=1))

    jobs = job_ids("test-curate-near-dup-jobs", curate)
    assert 0 < len(jobs) <= 13, jobs


def test_exact_pass_runs_a_bounded_job_count(
    spark, tmp_path, monkeypatch, job_ids
):
    """A curation call without near-dup, capped at one doc per source,
    plus materializing all three outputs runs at most 7 jobs on the
    planted fixture read from parquet: 14 when the quality signal, the
    fingerprint dedup and the domain cap each joined their result back,
    7 with the row and window flags."""
    monkeypatch.delenv("SPARK_GRAFT_PIN_STORAGE", raising=False)
    path = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(path)
    docs = spark.read.parquet(path)

    def curate():
        _answer(*curate_corpus(docs, near_dup=False, docs_per_source=1))

    jobs = job_ids("test-curate-exact-jobs", curate)
    assert 0 < len(jobs) <= 7, jobs


def _grouped_repetition(docs, n=3):
    """The repetition signal as the exploded ``(doc, gram)`` counts
    grouped per doc: two shuffles, one row per doc with an n-gram."""
    grams = docs.select(
        "doc_id", tokens_of("text").alias("_toks")
    ).select(
        "doc_id",
        F.explode(word_ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.max("c").cast("int").alias("top_ngram_count"),
        F.sum("c").cast("int").alias("n_ngrams"),
        duck_round(F.max("c") / F.sum("c"), 4).cast("double").alias(
            "top_ngram_share"
        ),
    )


def _join_form_curate(
    docs, min_tokens, near_dup, docs_per_source, max_top_trigram_share=0.5
):
    """Stages 1-4 and 7 of the cascade with every verdict computed
    elsewhere and joined back by id: the grouped repetition signal, a
    ``groupBy`` of fingerprints, and a window over the survivors only.
    The reference the flag cascade must agree with."""
    id_ = F.col("doc_id")
    base = docs.select("doc_id", "text", "source")
    quality = base.withColumn("_n_toks", F.size(tokens_of("text")))
    rep = _grouped_repetition(docs).select(
        F.col("doc_id").alias("_rep_id"), "top_ngram_share"
    )
    quality = quality.join(
        rep, quality["doc_id"] == F.col("_rep_id"), "left"
    ).drop("_rep_id")
    reason = F.when(F.col("_n_toks") < min_tokens, "too_short").when(
        F.col("top_ngram_share") > max_top_trigram_share, "repetitive"
    )
    staged = quality.withColumn("_reason", reason)

    def drop(staged, ids):
        return (
            staged.join(ids.withColumnRenamed("_reason", "_r"), "doc_id", "left")
            .withColumn("_reason", F.coalesce("_reason", "_r"))
            .drop("_r")
        )

    alive = staged.filter(F.col("_reason").isNull())
    fp = alive.select("doc_id", fingerprint("text").alias("_fp"))
    keep_fp = fp.groupBy("_fp").agg(F.min(id_).alias("_keep_id"))
    dup = (
        fp.join(keep_fp, "_fp")
        .filter(id_ != F.col("_keep_id"))
        .select("doc_id", F.lit("duplicate").alias("_reason"))
    )
    staged = drop(staged, dup)
    if near_dup:
        alive = staged.filter(F.col("_reason").isNull())
        cand = minhash_candidates(
            alive, "doc_id", F.array_distinct(tokens_of("text")), k=16, bands=8
        ).filter(F.col("est_jaccard") >= 0.5)
        comp = connected_components(cand, "doc_a", "doc_b")
        near = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"), F.lit("near_duplicate").alias("_reason")
        )
        staged = drop(staged, near)
    if docs_per_source is not None:
        w = Window.partitionBy("source").orderBy(F.md5(id_.cast("string")), id_)
        over = (
            staged.filter(F.col("_reason").isNull())
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > docs_per_source)
            .select("doc_id", F.lit("domain_capped").alias("_reason"))
        )
        staged = drop(staged, over)
    kept = docs.join(
        staged.filter(F.col("_reason").isNull()).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    dropped = staged.filter(F.col("_reason").isNotNull()).select(
        "doc_id", F.col("_reason").alias("reason")
    )
    stats = (
        staged.select(F.coalesce("_reason", F.lit("kept")).alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return kept, dropped, stats


_WORDS = ("ant", "bee", "cat", "dog", "eel", "fox")


@st.composite
def _corpora(draw):
    """``(rows, min_tokens)``: random docs over a six-word vocabulary
    mixed with reordered exact copies, repetitive docs, too-short docs
    and docs with no trigrams (NULL, empty, one or two tokens); ids
    shuffled so a copy can carry the lower id, sources include NULL."""
    def words(lo, hi):
        return draw(st.lists(st.sampled_from(_WORDS), min_size=lo, max_size=hi))

    texts = []
    for _ in range(draw(st.integers(1, 14))):
        kind = draw(st.sampled_from(
            ("random", "copy", "repetitive", "short", "no_trigrams")
        ))
        earlier = [t.split(" ") for t in texts if t]
        if kind == "copy" and earlier:
            toks = draw(st.permutations(draw(st.sampled_from(earlier))))
        elif kind == "repetitive":
            toks = [draw(st.sampled_from(_WORDS))] * draw(st.integers(3, 9))
        elif kind == "short":
            toks = words(1, 4)
        elif kind == "no_trigrams":
            texts.append(draw(st.sampled_from((None, "", "ant", "bee cat"))))
            continue
        else:
            toks = words(3, 10)
        texts.append(" ".join(toks))
    ids = draw(st.permutations(range(len(texts))))
    sources = [draw(st.sampled_from(("s1", "s2", None))) for _ in texts]
    min_tokens = draw(st.sampled_from((0, 2, 5)))
    return list(zip(ids, texts, sources)), min_tokens


@pytest.mark.parametrize("near_dup", [False, True], ids=["exact", "near_dup"])
@pytest.mark.parametrize("docs_per_source", [None, 0, 1, 2])
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpora())
@example(corpus=(
    [
        (0, "ant bee cat dog eel", "s1"),
        (1, "eel dog cat bee ant", None),
        (2, "ant ant ant ant ant", None),
        (3, "", "s2"),
        (4, None, "s2"),
        (5, "ant bee", "s1"),
    ],
    0,
))
def test_flag_cascade_matches_join_form(spark, corpus, near_dup, docs_per_source):
    """The window-flag cascade gives exactly the kept ids, dropped
    ``(id, reason)`` rows and stats of the join-form reference."""
    rows, min_tokens = corpus
    docs = local_frame(spark, rows, _SCHEMA)
    kw = dict(
        min_tokens=min_tokens, near_dup=near_dup, docs_per_source=docs_per_source
    )
    assert _answer(*curate_corpus(docs, **kw)) == _answer(
        *_join_form_curate(docs, **kw)
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(
    st.one_of(
        st.none(),
        # single-gram docs: exactly three tokens
        st.lists(st.sampled_from(("x", "y")), min_size=3, max_size=3),
        # two words make ties between grams common
        st.lists(st.sampled_from(("x", "y")), max_size=9),
        st.lists(st.sampled_from(("x", "y", "z")), max_size=9),
    ).map(lambda t: t if t is None else " ".join(t)),
    max_size=12,
))
@example(["x y x y", "x x y y", "x y z", "x x x", "x y", None, ""])
def test_row_repetition_matches_grouped_counts(spark, texts):
    """repetition_features (the per-row fold) gives exactly the rows of
    grouping the exploded ``(doc, gram)`` counts per doc."""
    docs = local_frame(
        spark, [(i, t, "s") for i, t in enumerate(texts)], _SCHEMA
    )
    per_row = repetition_features(docs, "doc_id").collect()
    grouped = _grouped_repetition(docs).collect()
    assert sorted(map(tuple, per_row)) == sorted(map(tuple, grouped))
