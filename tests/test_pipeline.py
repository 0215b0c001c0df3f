"""curate_corpus: one doc dropped per stage, precedence, stats totals."""

from __future__ import annotations

from weighted_raster_overlay_service_toolbox_spark.pipeline import curate_corpus


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
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


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
    at most 30 jobs on the planted fixture read from parquet, as the
    benchmark reads its corpus: 44 when connected components ran its
    rounds on the candidate graph, 27 with driver union-find."""
    monkeypatch.delenv("SPARK_GRAFT_PIN_STORAGE", raising=False)
    path = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(path)
    docs = spark.read.parquet(path)

    def curate():
        _answer(*curate_corpus(docs, near_dup=True, docs_per_source=1))

    jobs = job_ids("test-curate-near-dup-jobs", curate)
    assert 0 < len(jobs) <= 30, jobs
