"""Shared measurement and sweep harness for the registry runners.

``bench.py``, ``profile_queries.py``, ``scaling.py``, ``parity_all.py``
and the registry-wide tests run queries through these pieces. What a
query needs in order to run (its staged stream inputs, the training memo
it fills) is read from its ``@query`` declaration
(``queries/registry.py``), so no runner keeps its own map.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.queries.registry import (
    reset_training,
    staged_inputs,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
WARMUP = ("q_agg_group", "q_cosine_topk")
SENTINEL = "q_join_inner"
THREADS = 4

_NOISY_LOGGERS = (
    # a foreachBatch sink read back through a batch_id=* glob WARN-logs
    # a FileNotFoundException stack though the read succeeds (4.x name,
    # then the pre-4.x one)
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    "org.apache.spark.sql.execution.streaming.FileStreamSink",
    # "No Partition Defined for Window": the remaining unpartitioned
    # windows are over bounded relations (range arrays, centroid init,
    # catalog-sized value tables, TPC-H Q15's supplier aggregate)
    "org.apache.spark.sql.execution.window.WindowExec",
    # unpersisting a localCheckpointed RDD logs "cannot be recomputed"
    # per block: intended when a runner drops storage between probes
    "org.apache.spark.rdd.MapPartitionsRDD",
)


def quiet_logs(spark) -> None:
    """Set the benign-noise loggers to ERROR for this process."""
    jvm = spark._jvm
    for name in _NOISY_LOGGERS:
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            name, jvm.org.apache.logging.log4j.Level.ERROR
        )


def materialize(df) -> None:
    """The ``noop`` sink: executes every output column JVM-side, where
    ``count()`` lets Catalyst prune projection-only work and ``foreach``
    would time Python row shipping."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Pay JVM, codegen, footer-cache and Python-worker start-up once."""
    for name in WARMUP:
        materialize(QUERIES[name](spark, sf_dir))


def stage(spark, sf_dir: str, names: Iterable[str]) -> None:
    """Stage every declared stream input of ``names``."""
    for name in names:
        staged_inputs(spark, sf_dir, name)


def best_of(
    fn: Callable[[], object],
    repeats: int,
    before: Callable[[], object] | None = None,
) -> float:
    """Min wall seconds of ``repeats`` calls of ``fn``, full precision;
    ``before`` runs untimed ahead of each call."""
    best = float("inf")
    for _ in range(repeats):
        if before is not None:
            before()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def time_query(
    spark, sf_dir: str, name: str, repeats: int, retrain: bool = False
) -> float:
    """Min-of-``repeats`` construct + ``noop`` materialize of ``name``,
    its stream inputs staged first. ``retrain`` clears the row's
    declared training memo before every rep, so each rep includes the
    training its declared work is."""
    stage(spark, sf_dir, [name])
    return best_of(
        lambda: materialize(QUERIES[name](spark, sf_dir)),
        repeats,
        before=(lambda: reset_training(name)) if retrain else None,
    )


def sentinel(spark, sf_dir: str, repeats: int = 5) -> float:
    """Host-drift sentinel: min of ``max(repeats, 5)`` runs of
    :data:`SENTINEL`, a query whose code is unchanged since the first
    round. Read a cross-run delta as ``(t_new / t_old) / (sentinel_new /
    sentinel_old)``. Call it after :func:`warm_up`, or it absorbs JVM
    and codegen start-up and reads several times high."""
    return time_query(spark, sf_dir, SENTINEL, max(repeats, 5))


def sweep(
    fn: Callable[[str], object], names: Iterable[str], threads: int = THREADS
) -> dict:
    """``{name: fn(name)}`` in the order of ``names``: batch queries on a
    ``threads``-wide pool against the one session, then the
    ``q_stream_*`` queries in sequence (they own scratch sinks and a
    state-store conf window that a racing twin could corrupt)."""
    names = list(names)
    batch = [n for n in names if not n.startswith("q_stream_")]
    results: dict = {}
    with ThreadPoolExecutor(max_workers=threads) as pool:
        results.update(zip(batch, pool.map(fn, batch)))
    for name in names:
        if name not in results:
            results[name] = fn(name)
    return {n: results[n] for n in names}


def duck(sf_dir: str):
    """A DuckDB connection with the fixture tables of ``sf_dir`` as views."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def per_thread_duck(sf_dir: str) -> Callable[[], object]:
    """A getter for one :func:`duck` connection per calling thread
    (DuckDB connections are not thread-safe)."""
    local = threading.local()

    def get():
        if not hasattr(local, "con"):
            local.con = duck(sf_dir)
        return local.con

    return get
