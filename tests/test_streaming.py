"""Streaming semantics tests (SURVEY.md section 5.5): batch-equivalence for
window aggregates, pinned late-data behavior for watermark/dedup, and
update-mode emission shape. All run the REAL Structured Streaming engine
via the staged file source (one file per micro-batch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.sources import load_table

from .conftest import SF_SMOKE


def run_foreach_batch(streaming_df, output_mode: str) -> list:
    """Execute with foreachBatch, returning [(batch_id, rows)]: the
    per-micro-batch emission log, collected to the driver, for golden
    checks on bounded fixtures. Registry queries capture through
    ``engine.run_to_parquet_log`` instead."""
    captured: list = []

    def sink(batch_df, batch_id: int) -> None:
        captured.append((batch_id, batch_df.collect()))

    q = (
        streaming_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return captured


def test_staging_prunes_stale_fingerprint_dirs(spark):
    """A staged dir from a previous fixture generation (same name/params
    prefix, different source fingerprint) must be removed by the next
    successful stage call -- fixture regeneration must not leak scratch
    dirs forever (ADVICE r3)."""
    import os
    import shutil

    from weighted_raster_overlay_service_toolbox_spark.streaming import engine

    real = engine.stage_event_files(spark, SF_SMOKE, "prunecheck")
    stale = real[: real.rfind("_")] + "_deadbeef"
    os.makedirs(stale, exist_ok=True)
    try:
        again = engine.stage_event_files(spark, SF_SMOKE, "prunecheck")
        assert again == real and os.path.exists(real)
        assert not os.path.exists(stale), stale
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(real, ignore_errors=True)


def test_tumbling_batch_equivalence(spark):
    """Streaming tumbling counts == batch date_trunc counts."""
    got = {
        (r["win_start"], r["n_events"])
        for r in QUERIES["q_stream_tumbling"](spark, SF_SMOKE).collect()
    }
    want = {
        (r["win_start"], r["n_events"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_sliding_each_event_in_two_windows(spark):
    """1h window / 30m slide: total windowed event count is exactly 2x."""
    out = QUERIES["q_stream_sliding"](spark, SF_SMOKE)
    total = out.agg(F.sum("n_events")).first()[0]
    n = load_table(spark, SF_SMOKE, "events").count()
    assert total == 2 * n


def test_watermark_drops_late_events(spark):
    """The 200 replayed-late events must NOT be double-counted, and late
    rows beyond the watermark are dropped: append-mode totals are <= the
    on-time event count."""
    out = QUERIES["q_stream_watermark"](spark, SF_SMOKE)
    emitted_total = out.agg(F.sum("n_events")).first()[0]
    n = load_table(spark, SF_SMOKE, "events").count()
    # strictly fewer than all events (the late file is beyond watermark;
    # final in-flight windows may also be unemitted in append mode)
    assert emitted_total < n
    assert emitted_total > 0


def test_dedup_never_double_counts(spark):
    """Replayed duplicate event_ids are dropped by streaming state: no
    hour bucket can exceed its true distinct count."""
    out = {
        r["win_start"]: r["n_events"]
        for r in QUERIES["q_stream_dedup"](spark, SF_SMOKE).collect()
    }
    truth = {
        r["win_start"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    assert out, "append-mode dedup emitted nothing"
    for win, n in out.items():
        assert n <= truth[win], f"double-count in {win}: {n} > {truth[win]}"


def test_update_mode_emits_increasing_counts(spark):
    """Update mode re-emits a key only when it changes; per-key counts are
    non-decreasing across micro-batches and end at the batch totals."""
    rows = QUERIES["q_stream_agg_update"](spark, SF_SMOKE).collect()
    assert rows, "no update-mode emissions captured"
    by_key: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        by_key.setdefault(r["event_type"], []).append((r["batch_id"], r["n"]))
    truth = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for key, seq in by_key.items():
        seq.sort()
        counts = [n for _, n in seq]
        assert counts == sorted(counts), f"{key}: counts decreased {counts}"
        assert counts[-1] == truth[key], f"{key}: final {counts[-1]} != {truth[key]}"


def test_session_window_gap_semantics(spark):
    """Session end = last event + gap; sessions for one user never overlap."""
    out = QUERIES["q_stream_session"](spark, SF_SMOKE).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, sessions in by_user.items():
        sessions.sort(key=lambda r: r["session_start"])
        for a, b in zip(sessions, sessions[1:]):
            assert a["session_end"] <= b["session_start"], (
                f"user {user}: overlapping sessions {a} {b}"
            )


def test_stream_upsert_state_equals_batch_truth(spark):
    """After all micro-batches, the upsert state table must hold exactly
    the per-user latest (ts, type, value) -- identical to a batch argmax
    over the whole fixture."""
    got = {
        r["user_id"]: (r["last_ts"], r["last_type"], r["last_value"])
        for r in QUERIES["q_stream_upsert"](spark, SF_SMOKE).collect()
    }
    truth = {
        r["user_id"]: (r["last_ts"], r["last_type"], r["last_value"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.max_by("ts", F.struct("ts", "event_id")).alias("last_ts"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        )
        .collect()
    }
    assert got == truth


def test_stream_stream_join_batch_equivalence(spark):
    """Watermarked inner stream-stream join == the equivalent batch join
    (the oracle asserts the same at sf0.01; this pins it at smoke scale)."""
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in QUERIES["q_stream_stream_join"](spark, SF_SMOKE).collect()
    )
    ev = load_table(spark, SF_SMOKE, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = sorted(
        (r["click_id"], r["purchase_id"])
        for r in a.join(
            b,
            (F.col("u") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour")),
        ).collect()
    )
    assert got == want


def test_stream_stream_left_join_matches_batch(spark):
    """Left-outer stream-stream join must equal the batch left join: every
    click appears; matched multiplicity preserved; unmatched null-extended."""
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in QUERIES["q_stream_stream_left_join"](spark, SF_SMOKE).collect()
    )
    ev = load_table(spark, SF_SMOKE, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = sorted(
        (r["click_id"], r["purchase_id"])
        for r in a.join(
            b,
            (F.col("u") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour")),
            "left_outer",
        ).collect()
    )
    assert got == want


def test_stream_session_isolates_caller_conf(spark):
    """Regression (r4 advice): micro-batch execution must not write the
    caller's session conf. The stream runs on a private newSession clone
    with 8 state partitions; the caller's shuffle.partitions -- set here
    to a sentinel value -- must be untouched afterwards (the old
    context-manager restore had a window where concurrent work saw 8)."""
    from weighted_raster_overlay_service_toolbox_spark.streaming.engine import (
        stream_session,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "23")
    try:
        clone = stream_session(spark)
        assert clone is not spark
        assert clone.conf.get(key) == "8"
        assert stream_session(spark) is clone  # memoized, one clone per base
        QUERIES["q_stream_tumbling"](spark, SF_SMOKE).collect()
        assert spark.conf.get(key) == "23"
    finally:
        spark.conf.set(key, prev)


def test_stream_near_dup_suppresses_across_batches_deterministically(spark):
    """q_stream_near_dup (round 10): the band-key state store must
    suppress near-dups ACROSS micro-batches (not just within one), the
    claim rule must be deterministic (two runs agree exactly), and
    claims must drop-chain (a dropped doc still owns its fresh keys --
    the per-key state semantics the oracle replays). Checked against a
    directly-computed replay of the claim rule over the same band
    keys."""
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.dedup import (
        minhash_base_hashes,
        minhash_signature_from_base,
    )
    from weighted_raster_overlay_service_toolbox_spark.queries.llm import TOKS
    from weighted_raster_overlay_service_toolbox_spark.queries.streaming import (
        _SND_BANDS,
        _SND_K,
        q_stream_near_dup,
    )
    from weighted_raster_overlay_service_toolbox_spark.sources import load_table

    out1 = sorted(map(tuple, q_stream_near_dup(spark, SF_SMOKE).collect()))
    out2 = sorted(map(tuple, q_stream_near_dup(spark, SF_SMOKE).collect()))
    assert out1 == out2, "stream near-dup result is not deterministic"

    docs = load_table(spark, SF_SMOKE, "documents")
    total = docs.count()
    assert 0 < len(out1) < total, (len(out1), total)

    # replay the claim rule in plain batch code: batch = staging split,
    # dropped = band-key collision with a (batch, doc_id)-earlier doc
    r = _SND_K // _SND_BANDS
    chunk = total // 4 + 1
    sig = docs.select(
        "doc_id",
        minhash_signature_from_base(
            minhash_base_hashes(F.array_distinct(TOKS())), _SND_K
        ).alias("sig"),
    ).collect()
    rows = sorted((rw.doc_id, rw.sig) for rw in sig)
    keyed = []  # (band_idx, band_key, batch, doc)
    for rank, (doc, s) in enumerate(rows):
        batch = rank // chunk
        for b in range(_SND_BANDS):
            key = ",".join(str(s[b * r + i]) for i in range(r))
            keyed.append((b, key, batch, doc))
    owner: dict = {}
    for b, key, batch, doc in sorted(keyed, key=lambda t: (t[2], t[3])):
        owner.setdefault((b, key), doc)
    want = sorted(
        (rank // chunk, doc)
        for rank, (doc, s) in enumerate(rows)
        if all(
            owner[(b, ",".join(str(s[b * r + i]) for i in range(r)))] == doc
            for b in range(_SND_BANDS)
        )
    )
    assert out1 == want


def test_no_registry_streaming_row_collects_batches():
    """Posture pin (round 13, VERDICT r12 #2): the collect-based
    emission capture (run_foreach_batch, above) is a TEST-ONLY harness.
    Every registry streaming query must capture executor-side -- memory
    sink for bounded finalized-window outputs, run_to_parquet_log /
    run_near_dup_ingest's batch_id-partitioned parquet sink for
    update-mode emission logs (key-cardinality-sized at scale). A
    reintroduced driver collect in queries/streaming.py fails here."""
    import inspect

    import weighted_raster_overlay_service_toolbox_spark.queries.streaming as qs

    src = inspect.getsource(qs)
    assert "run_foreach_batch" not in src
    assert ".collect()" not in src


def test_run_to_parquet_log_matches_collect_capture_and_is_rerunnable(spark):
    """run_to_parquet_log (round 13): the executor-side emission log
    must agree row-for-row (including batch assignment) with the
    test-only collect capture on the same deterministic staged stream,
    and a second run over the same inputs must reproduce the sink
    byte-for-byte at the row level (the runner resets sink+checkpoint,
    so the availableNow replay is deterministic end to end)."""
    import os

    from weighted_raster_overlay_service_toolbox_spark.queries.registry import (
        staged_inputs,
    )
    from weighted_raster_overlay_service_toolbox_spark.streaming.engine import (
        read_event_stream,
        run_to_parquet_log,
    )
    from weighted_raster_overlay_service_toolbox_spark.queries.streaming import (
        _emission_scratch,
    )
    from .conftest import SF_SMOKE
    from pyspark.sql import functions as F

    (staged,) = staged_inputs(spark, SF_SMOKE, "q_stream_agg_update")

    def agg():
        return (
            read_event_stream(spark, staged)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    golden = sorted(
        (int(b), r["event_type"], int(r["n"]))
        for b, rows in run_foreach_batch(agg(), "update")
        for r in rows
    )
    sink, ckpt = _emission_scratch("test_parquet_log")
    run_to_parquet_log(agg(), "update", sink, ckpt)
    got1 = sorted(
        (int(r["batch_id"]), r["event_type"], int(r["n"]))
        for r in spark.read.parquet(sink).collect()
    )
    assert got1 == golden and len(golden) > 0
    # deterministic re-run: same rows, and batch dirs are per-batch
    run_to_parquet_log(agg(), "update", sink, ckpt)
    got2 = sorted(
        (int(r["batch_id"]), r["event_type"], int(r["n"]))
        for r in spark.read.parquet(sink).collect()
    )
    assert got2 == got1
    assert sorted(
        d for d in os.listdir(sink) if d.startswith("batch_id=")
    ) == sorted({f"batch_id={b}" for b, _, _ in golden})


def test_run_to_parquet_log_zero_batch_yields_empty_relation(spark, tmp_path):
    """A stream that fires ZERO micro-batches (empty source directory)
    must still leave a readable sink -- an empty batch_id=0 partition
    with the stream's schema -- so callers' spark.read.parquet(sink_dir)
    returns an empty relation instead of path-not-found (ADVICE r13)."""
    import os

    from weighted_raster_overlay_service_toolbox_spark.streaming.engine import (
        run_to_parquet_log,
        stream_session,
    )

    empty_src = str(tmp_path / "empty_src")
    os.makedirs(empty_src)
    counted = (
        stream_session(spark)
        .readStream.schema("user_id long, value double")
        .parquet(empty_src)
        .groupBy("user_id")
        .count()
    )
    sink = str(tmp_path / "sink")
    run_to_parquet_log(counted, "update", sink, str(tmp_path / "ckpt"))
    out = counted.sparkSession.read.parquet(sink)
    assert out.count() == 0
    assert set(out.columns) >= {"user_id", "count"}


def test_stream_semantic_decontaminate_is_stateless_and_batch_equal(spark):
    """q_stream_semantic_decontaminate (round 14): the stream's
    accumulated output equals composing the SAME gating function
    (operators/similarity.py decontaminate_against_eval) over the
    static embeddings table -- batch == stream because the stage is
    stateless (per-row predicate, no aggregation, no watermark)."""
    from pyspark.sql import functions as F

    from weighted_raster_overlay_service_toolbox_spark.operators.similarity import (
        decontaminate_against_eval,
        eval_suite_of,
    )
    from weighted_raster_overlay_service_toolbox_spark.queries.streaming import (
        q_stream_semantic_decontaminate,
    )
    from weighted_raster_overlay_service_toolbox_spark.sources import load_table

    from .conftest import SF_SMOKE

    streamed = sorted(
        r["vec_id"]
        for r in q_stream_semantic_decontaminate(spark, SF_SMOKE).collect()
    )
    evid = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("source") == "src0")
        .select("doc_id")
    )
    v = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ev = eval_suite_of(v, evid)
    tr = v.join(
        evid.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
    )
    batch = sorted(
        r["vec_id"]
        for r in decontaminate_against_eval(tr, ev, 0.35).collect()
    )
    assert streamed == batch
    assert 0 < len(batch) < tr.count()  # the gate drops a real slice
