"""Unit tests for the text-analysis operator library (operators/text.py)
on small synthetic frames (the corpus queries exercise the large paths)."""

from __future__ import annotations

from weighted_raster_overlay_service_toolbox_spark.operators.text import (
    fingerprint,
    term_frequencies,
    tfidf,
    tokenize,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog"),
            (3, "cat cat cat"),
        ],
        "doc_id long, text string",
    )


def test_tokenize_and_term_frequencies(spark):
    tf = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in term_frequencies(tokenize(_docs(spark), "doc_id")).collect()
    }
    assert tf[(1, "the")] == 2
    assert tf[(3, "cat")] == 3
    assert (2, "cat") not in tf


def test_tfidf_zero_for_ubiquitous_terms(spark):
    import math

    rows = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in tfidf(_docs(spark), "doc_id").collect()
    }
    # 'cat' appears in 2 of 3 docs: idf = ln(3/2); doc 3 has tf 3
    assert rows[(3, "cat")] == round(3 * math.log(3 / 2), 4)
    # 'dog' appears in 1 of 3: idf = ln(3)
    assert rows[(2, "dog")] == round(math.log(3.0), 4)


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b b c"), (4, "a b d")],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()
    }
    assert fps[1] == fps[2] == fps[3]  # reorder + dup-token invariant
    assert fps[4] != fps[1]


def test_word_ngrams_and_short_doc_guard(spark):
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        word_ngrams,
    )

    rows = {
        r["doc_id"]: r["g"]
        for r in _docs(spark).select("doc_id", word_ngrams("text", 3).alias("g")).collect()
    }
    assert rows[1] == ["the cat sat", "cat sat on", "sat on the", "on the mat"]
    assert rows[2] == []  # 2 tokens < n: EMPTY, not a descending-sequence artifact
    assert rows[3] == ["cat cat cat"]


def test_repetition_features_flags_boilerplate(spark):
    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        repetition_features,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),   # 'a b c' trigram dominates
            (2, "one two three four five six"),  # all trigrams unique
            (3, "xy"),                         # too short: no row
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs, "doc_id").collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["top_ngram_count"] == 4 and rows[1]["n_ngrams"] == 10
    assert rows[1]["top_ngram_share"] == 0.4
    assert rows[2]["top_ngram_count"] == 1
    assert rows[2]["top_ngram_share"] == 0.25


def test_scrub_digits(spark):
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        scrub_digits,
    )

    df = spark.createDataFrame(
        [("call 555-0100 ext 7",)], "s string"
    ).select(scrub_digits(F.col("s")).alias("out"))
    assert df.first()["out"] == "call XXX-XXXX ext X"


# -- BPE tokenizer training (round 14) --------------------------------------


def test_bpe_train_merges_are_deterministic_and_greedy(spark):
    """Unit pin for operators/text.py bpe_train: frequency-weighted pair
    argmax, lexicographic tiebreak, and the GREEDY left-to-right
    re-segmentation ("a a a a" under merge (a,a) -> "aa aa", "a a a" ->
    "aa a" -- never the overlapping middle pair)."""
    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        BPE_SEP,
        bpe_segment_expr,
        bpe_train,
    )
    from pyspark.sql import functions as F

    words = spark.createDataFrame(
        [("aaaa", 3), ("aaa", 1), ("ab", 5)], "tok string, freq long"
    )
    # round-1 pair counts: (a,a) = 3*3 + 1*2 = 11 beats (a,b) = 5
    merges = bpe_train(words, n_merges=2)
    assert merges[0][:2] == ("a", "a") and merges[0][2] == 11
    # after merging (a,a): aaaa -> [aa, aa], aaa -> [aa, a], ab -> [a, b]
    # round-2 pairs: (aa,aa)=3, (aa,a)=1, (a,b)=5 -> (a,b) wins
    assert merges[1][:2] == ("a", "b") and merges[1][2] == 5
    seg = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("ab",), ("aab",)], "tok string"
    ).select(
        "tok", F.split(bpe_segment_expr("tok", merges), BPE_SEP).alias("s")
    )
    got = {r["tok"]: r["s"] for r in seg.collect()}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["ab"] == ["ab"]
    # greedy order: (a,a) fires first, so 'aab' -> [aa, b]; the (a,b)
    # merge cannot fire because its left symbol was consumed
    assert got["aab"] == ["aa", "b"]


def test_bpe_train_tiebreak_is_lexicographic(spark):
    """Equal pair counts break on (left, right) byte order."""
    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        bpe_train,
    )

    words = spark.createDataFrame(
        [("zy", 2), ("ab", 2)], "tok string, freq long"
    )
    merges = bpe_train(words, n_merges=1)
    assert merges[0][:2] == ("a", "b")


def test_bpe_train_raises_when_pairs_exhaust(spark):
    """Single-symbol-only vocab cannot supply n_merges rounds: explicit
    ValueError, never a silently short merge list (the unrolled oracle
    could not represent it)."""
    import pytest

    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        bpe_train,
    )

    words = spark.createDataFrame(
        [("a", 5), ("b", 3)], "tok string, freq long"
    )
    with pytest.raises(ValueError, match="exhausted"):
        bpe_train(words, n_merges=1)


def test_bpe_train_empty_corpus_learns_nothing(spark):
    from weighted_raster_overlay_service_toolbox_spark.operators.text import (
        bpe_train,
    )

    words = spark.createDataFrame([], "tok string, freq long")
    assert bpe_train(words, n_merges=3) == []
