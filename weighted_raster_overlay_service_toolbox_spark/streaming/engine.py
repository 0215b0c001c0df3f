"""Structured-Streaming harness over the ``events`` fixture table.

The reference is batch-only (SURVEY.md section 1.2); streaming is the
north-star extension. The harness turns the static events parquet into a
REAL file stream with deterministic replay:

- the table is split into N scratch parquet files in event-time order
  (optionally with a controlled out-of-order "late" slice) so
  ``maxFilesPerTrigger=1`` yields a fixed micro-batch sequence;
- results go to the in-memory sink and come back as a batch DataFrame, so
  driver/oracle comparison works on the materialized output;
- watermark semantics (late-data drops, state eviction) are therefore
  reproducible: batch k's watermark is applied to batch k+1, and the file
  order is pinned.

Scale posture: at 100 TB the same plan reads a Kafka/file source with
event-time partitioning; watermarks bound state size, and the shuffle is
keyed by (window, user) exactly as here.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch"
)


def stage_event_files(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_files: int = 4,
    late_events: int = 0,
) -> str:
    """Write events as ``n_files`` single-file parquets in ts order.

    With ``late_events > 0``, that many events are cut from the FIRST
    time-quantile and appended as a final late file -- they arrive after
    the watermark has advanced past them, which is the deterministic
    late-data scenario for watermark/dedup queries.

    Staged dirs are content-addressed by (sf_dir, params, source
    fingerprint) and reused: the fixture tables are read-only and the
    split is deterministic, so a completed staging (marker file present)
    is valid across runs. The fingerprint (source mtime+size) invalidates
    stagings built from a previous generation of the fixture data.
    """
    return _stage_table_files(
        spark,
        sf_dir,
        table="events",
        order_cols=("ts", "event_id"),
        prefix=f"stream_events_{name}_",
        n_files=n_files,
        late_rows=late_events,
    )


def stage_document_files(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 4
) -> str:
    """Stage the documents table as an n_files deterministic file stream
    (doc_id order) -- the CORPUS-INGEST scenario: documents arriving in
    batches, filtered/scored on the way in. Same content-addressed
    staging contract as :func:`stage_event_files`."""
    return _stage_table_files(
        spark,
        sf_dir,
        table="documents",
        order_cols=("doc_id",),
        prefix=f"stream_documents_{name}_",
        n_files=n_files,
        late_rows=0,
    )


def stage_embedding_files(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 4
) -> str:
    """Stage the embeddings table as an n_files deterministic file
    stream (vec_id order) -- the EMBEDDING-INGEST scenario: vectors
    arriving from an upstream encoder, gated on the way in (round 14:
    q_stream_semantic_decontaminate). Same content-addressed staging
    contract as :func:`stage_event_files`."""
    return _stage_table_files(
        spark,
        sf_dir,
        table="embeddings",
        order_cols=("vec_id",),
        prefix=f"stream_embeddings_{name}_",
        n_files=n_files,
        late_rows=0,
    )


def _stage_table_files(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_cols: tuple,
    prefix: str,
    n_files: int,
    late_rows: int,
) -> str:
    """Shared staging engine: dirs are
    ``stream_{table}_{name}_{sf}_f{n}_l{k}_{fingerprint}``."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(src) and os.path.isdir(f"{sf_dir}/{table}"):
        # laid-out fixture dir (sources/layout.py): fingerprint the
        # _layout.json MANIFEST file, not the table directory (ADVICE
        # r9) -- a hive-partitioned dir's top-level mtime does not move
        # when files inside existing partition subdirs are rewritten in
        # place, but write_layout rewrites the manifest on every run,
        # which makes the invalidation contract explicit.
        manifest_p = os.path.join(sf_dir, "_layout.json")
        src = manifest_p if os.path.isfile(manifest_p) else f"{sf_dir}/{table}"
    st = os.stat(src)
    fp = f"{st.st_mtime_ns:x}_{st.st_size:x}"
    prefix = f"{prefix}{sf_tag}_f{n_files}_l{late_rows}_"
    out = os.path.join(_SCRATCH, prefix + fp)
    # prune stagings of the SAME (name, sf, params) built from a previous
    # fixture generation (different fingerprint) -- without this, every
    # fixture regeneration leaks a stale dir into .scratch forever
    for stale in glob.glob(os.path.join(_SCRATCH, prefix + "*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, table).orderBy(*order_cols)
    rows_total = ev.count()
    chunk = rows_total // n_files + 1
    # one pass: rank, then cache so each batch-file write re-filters the
    # in-memory ranked set instead of re-sorting the source
    ranked = ev.withColumn(
        "_rn", F.row_number().over(Window.orderBy(*order_cols))
    ).cache()
    late = ranked.filter(F.col("_rn") <= late_rows)
    on_time = ranked.filter(F.col("_rn") > late_rows)
    for i in range(n_files):
        part = on_time.filter(
            (F.col("_rn") > i * chunk) & (F.col("_rn") <= (i + 1) * chunk)
        ).drop("_rn")
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"batch_{i:03d}.parquet")
        )
    if late_rows:
        late.drop("_rn").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"batch_{n_files:03d}_late.parquet")
        )
    ranked.unpersist()
    with open(marker, "w") as f:
        f.write("ok")
    return out


def stage_with_sentinel(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 4
) -> str:
    """Stage event files plus a FINAL sentinel file: one event (user_id=-1)
    one day past the data max. In append mode, windows/sessions only emit
    once the watermark passes them -- the sentinel batch pushes the
    watermark past every real event so the finite test stream flushes all
    of its state (filter user_id = -1 out of results)."""
    out = stage_event_files(spark, sf_dir, name, n_files=n_files)
    sentinel_path = os.path.join(out, f"batch_{n_files + 1:03d}_sentinel.parquet")
    if not os.path.exists(sentinel_path):
        ev = load_table(spark, sf_dir, "events")
        sentinel = ev.agg(F.max("ts").alias("mx")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 1 DAY")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinel.coalesce(1).write.mode("overwrite").parquet(sentinel_path)
    return out


#: staging kind -> stager; the ``kind`` of a ``@query(stage=...)`` entry.
STAGERS = {
    "events": stage_event_files,
    "events_sentinel": stage_with_sentinel,
    "documents": stage_document_files,
    "embeddings": stage_embedding_files,
}


def read_event_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the staged dir (files are globbed in name
    order => deterministic batch sequence).

    ``files_per_trigger`` is the latency/throughput knob: 1 maximizes the
    number of micro-batches (what the late-data/watermark-sequencing
    queries pin); larger batches amortize per-batch state-store and
    commit overhead -- the right setting for availableNow backfill of
    queries whose RESULT is batch-count-invariant (watermarked inner
    joins, final-state aggregations).

    The stream is built on the private ``stream_session`` clone so its
    state-store partitioning never touches the caller's session conf;
    callers needing a static side for a stream-static join must load it
    via the returned DataFrame's ``sparkSession`` so both plans resolve
    in the same session."""
    spark = stream_session(spark)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )


def read_document_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a :func:`stage_document_files` dir -- the
    documents-table sibling of :func:`read_event_stream` (same session
    cloning and determinism contract)."""
    spark = stream_session(spark)
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )


def read_embedding_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a :func:`stage_embedding_files` dir --
    the embeddings-table sibling of :func:`read_event_stream` (same
    session cloning and determinism contract)."""
    spark = stream_session(spark)
    schema = "vec_id long, embedding array<float>, label int"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )


_STREAM_SESSIONS: dict = {}


def stream_session(spark: SparkSession, n: int = 8) -> SparkSession:
    """Private cloned session for micro-batch execution.

    A stateful query's state-store partition count is whatever
    ``spark.sql.shuffle.partitions`` says at FIRST query start (it is
    persisted in the checkpoint) -- it cannot be steered with a
    ``repartition()`` on the input. The test streams are small, so 8
    state partitions beat the session default; pinning that on a PRIVATE
    clone (``newSession``: shared SparkContext and cached data, isolated
    SQL conf) keeps concurrent batch work on the caller's session
    untouched -- no session-global conf write, no restore window.
    The correctness confs (UTC, nanos-as-long) are re-pinned because a
    driver-provided session may not come from ``session.get_spark``.

    Round 12 (VERDICT r11 #3): the clone also defaults the state-store
    provider to **RocksDB** for EVERY stateful op that runs on it --
    windowed/session aggregations, dropDuplicates state,
    applyInPandasWithState, and stream-stream join buffers -- not just
    the near-dup ingest (round 11). Rationale: at 100 TB the join
    buffers and dedup state are billions of keys, exactly the regime
    where the default HDFSBackedStateStoreProvider (every version of
    every key in executor heap) falls over; RocksDB spills to local SSD
    with incremental checkpointing. The provider never changes ANSWERS
    (pinned: all streaming registry rows stayed oracle-green across the
    switch), only the state residency. Opt out per-session via
    ``WROS_SPARK_HEAP_STATE_STORE=1`` (a comparison/debug escape hatch;
    the statestore reader and crash tests pin the RocksDB layout)."""
    key = (id(spark._jsparkSession), n)
    s = _STREAM_SESSIONS.get(key)
    if s is None:
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", str(n))
        s.conf.set("spark.sql.session.timeZone", "UTC")
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if not os.environ.get("WROS_SPARK_HEAP_STATE_STORE"):
            from .near_dup import ROCKSDB_PROVIDER, _PROVIDER_KEY

            s.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
            # r15 (VERDICT r14 #3, guide section 1.2 "don't compute
            # things you throw away"): changelog checkpointing makes
            # each micro-batch commit upload only that batch's CHANGES
            # to the checkpoint instead of a full RocksDB snapshot per
            # partition per batch -- the per-batch commit cost the
            # profiler attributes to stateCommit. Snapshots still
            # happen, just asynchronously in the maintenance thread.
            # Recovery semantics are unchanged (snapshot + changelog
            # replay); answers never depend on it. The crash-recovery
            # and statestore-reader tests run against this layout.
            s.conf.set(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "true",
            )
        _STREAM_SESSIONS[key] = s
    return s


def run_to_memory(
    streaming_df: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Execute the streaming plan to completion (availableNow) into the
    in-memory sink; return the sink contents as a batch DataFrame. The
    memory sink's table registers in the session that starts the query
    (the stream clone), so read it back from there."""
    spark = streaming_df.sparkSession
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_to_parquet_log(
    streaming_df: DataFrame,
    output_mode: str,
    sink_dir: str,
    checkpoint_dir: str,
) -> None:
    """Production emission-log capture (round 13, VERDICT r12 #2): each
    micro-batch's emitted rows are written by the EXECUTORS to
    ``sink_dir/batch_id=<n>`` parquet with ``mode("overwrite")`` -- the
    run_near_dup_ingest survivor-sink contract (idempotent under WAL
    replay: offsets are logged before the batch runs, committed after,
    so a crash inside the window replays the batch into a byte-identical
    per-directory overwrite) generalized to any update/append emission
    log. Callers read the log back with ``spark.read.parquet(sink_dir)``
    (``batch_id`` recovers as a partition column, pruned on batch-id
    predicates).

    This replaces per-batch ``collect()`` for REGISTRY rows: an
    update-mode log is key-cardinality-sized per batch, which at 100x
    would funnel the state-store's whole key domain through the driver
    once per micro-batch; here it never leaves the executors.
    tests/test_streaming.py pins that no registry streaming query uses
    the collect-based capture."""
    shutil.rmtree(sink_dir, ignore_errors=True)
    shutil.rmtree(checkpoint_dir, ignore_errors=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # ONE file per batch directory (r15, guide section 6 / VERDICT
        # r14 #3): update/append emission logs are key-cardinality-sized
        # per batch but arrive with the stateful op's shuffle
        # partitioning (8 at test scale) -- un-coalesced, every
        # micro-batch commits that many tiny part files and downstream
        # read-back pays per-file opens. repartition(1), NOT
        # coalesce(1): batch_df IS the stateful operator's output, and
        # a narrow coalesce folds every state-store partition into one
        # task that runs them serially per batch -- invisible at the
        # fixture's 8 tiny partitions (paired A/B: flat), a straggler
        # by construction at production partition counts. The keyless
        # repartition exchanges only the batch's emitted rows and
        # leaves the stateful stage parallel.
        batch_df.repartition(1).write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}")
        )

    q = (
        streaming_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.exists(sink_dir):
        # Zero micro-batches fired (empty/exhausted source): materialize
        # an empty batch_id=0 partition with the stream's schema so
        # callers' spark.read.parquet(sink_dir) returns an empty relation
        # instead of path-not-found (ADVICE r13).
        streaming_df.sparkSession.createDataFrame(
            [], streaming_df.schema
        ).write.parquet(os.path.join(sink_dir, "batch_id=0"))
